"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship extraction over sf0.001 (smoke; rows > 0).
queries()      — one entry per implemented operator from SURVEY.md §2,
                 each (spark, sf_dir) -> DataFrame over the driver parquet.
oracle_sql()   — DuckDB-ANSI twins over the same tables (pre-registered
                 views: region nation customer supplier part orders lineitem
                 events documents embeddings). Column names are aliased
                 identically on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.functions import text as TX

# Ordered literal replacement rules used by the flagship pipeline and the
# rule-based queries (reference-derived tokens, T5 semantics).
RULES = [
    ["hte", "the"],
    ["wrold", "world"],
    ["Orchestratr", "Orchestrator"],
    ["dumy", "dummy"],
]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _docs_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved-spans view of the driver `documents` table: each document's
    text split into paragraph spans (kind='text'), built with native
    expressions only (split + transform with index) — no Python."""
    docs = _t(spark, sf_dir, "documents")
    paras = F.split(F.col("text"), "\n\n")
    spans = F.transform(
        paras,
        lambda p, i: F.struct(
            F.lit("text").alias("kind"),
            p.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline over sf0.001 driver text docs PLUS
    a deterministic slice of the synthetic interleaved corpus, so the smoke
    check exercises every span kind (text/html/pdf/ocr/media), the error
    envelope, and the Arrow dispatch stage — not just the native text path."""
    from ocr_spark.fixtures import generate_docs
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.schema import DOC_SCHEMA

    text_docs = _docs_spans(spark, "/root/testdata/sf0.001")
    interleaved = spark.createDataFrame(generate_docs(100), DOC_SCHEMA)
    return extract_documents(text_docs.unionByName(interleaved), rules=RULES)


# ---------------------------------------------------------------------------
# oracle-checked queries (SURVEY.md §2 inventory)
# ---------------------------------------------------------------------------


def q_process_output(spark, sf_dir):
    """T1-T5 in one row (round-5 consolidation so every family fits the
    driver's 50-row CORRECTNESS cap): `cleaned` = T1-T4 whitespace
    canonicalization (ref postprocessing_module.py:45-82), `replaced` = T5
    ordered literal replacements (ref :84-107), `processed` = the reference
    composition clean THEN rules (ref :130-146)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        TX.clean_whitespace(F.col("text")).alias("cleaned"),
        TX.apply_rules(F.col("text"), RULES).alias("replaced"),
        TX.process_output(F.col("text"), RULES).alias("processed"),
    )


def q_extract_text(spark, sf_dir):
    """Full text-kind extraction T1→T7→T2/T3/T4→T5, plus the isolated T7
    hyphenation-repair column (round-5 consolidation of q_hyphen_repair)."""
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        TX.repair_hyphenation(TX.normalize_newlines(F.col("text"))).alias("repaired"),
        TX.extract_text(F.col("text"), RULES).alias("extracted"),
    )


def q_error_filter(spark, sf_dir):
    """F7 error-text filter (ref local_ocr_engine.py:463)."""
    d = _t(spark, sf_dir, "documents")
    return d.where(
        ~F.col("text").startswith("Error:") & (F.col("text") != "REC_FAIL")
    ).select("doc_id", "n_chars")


def q_confidence_mean(spark, sf_dir):
    """A2/F8: mean of positive values per group, 0.0 when none
    (ref local_ocr_engine.py:459-464) — events.value as the confidence proxy."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.coalesce(
            F.avg(F.when(F.col("value") > 0, F.col("value"))), F.lit(0.0)
        ).alias("mean_conf"),
        F.count("*").alias("n_events"),
    )


def q_fulltext_assembly(spark, sf_dir):
    """A1 full-text assembly: '\\n'.join in deterministic order
    (ref local_ocr_engine.py:450,463) — per-lang concat of doc texts."""
    d = _t(spark, sf_dir, "documents")
    assembled = d.groupBy("lang").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: s["text"],
            ),
        ).alias("full_text")
    )
    return assembled.select("lang", F.length("full_text").cast("long").alias("text_len"))


def q_span_reassembly(spark, sf_dir):
    """A6 span-sequence reassembly: ordered (by ts, id) event_type sequence
    per user (the groupBy+sort_array(collect_list) pattern of the pipeline).
    Emitted as a '|'-joined scalar so the driver canonicalizer can hash it
    (array columns are pandas-unhashable)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            "|",
        ).alias("seq")
    )


def q_dispatch_case(spark, sf_dir):
    """J1 3-level dispatch fallback as CASE (ref
    ocr_workflow_orchestrator.py:272-294), carrying the T9 dummy-engine
    canned result columns (ref stubs/dummy_engine.py:39-48 — round-5
    consolidation of q_dummy_engine: the fallback engine's output rides the
    same row as the dispatch decision)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.when(F.col("source") == "web", F.lit("html_extractor"))
        .when(F.col("source") == "pdf", F.lit("pdf_extractor"))
        .when(F.col("lang") == "en", F.lit("ocr_local"))
        .otherwise(F.lit("dummy_engine"))
        .alias("engine"),
        F.concat(
            F.lit("Dummy OCR result from DummyOCREngine for doc "),
            F.col("doc_id").cast("string"),
        ).alias("dummy_text"),
        F.lit(0.99).alias("dummy_conf"),
    )


def q_window_order(spark, sf_dir):
    """W2 span ordering: row_number over (partition, order) window — plus
    the A3 Google first-value-confidence semantics (ref
    google_ocr_engine.py:149-150) as the is_first/value columns (round-5
    consolidation of q_first_conf: rn=1 IS the first-value row)."""
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_id", "user_id", "value",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .where(F.col("rn") <= 5)
        .withColumn("is_first", F.col("rn") == 1)
    )


def q_topk_slice(spark, sf_dir):
    """F5/W4 candidate cap: first K elements of the ordered per-group list.
    '|'-joined scalar output (driver canonicalizer can't hash arrays)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.array_join(
            F.transform(
                F.slice(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("event_id", "value"))),
                        lambda s: s["event_id"],
                    ),
                    1,
                    10,
                ),
                lambda x: x.cast("string"),
            ),
            "|",
        ).alias("first_ids"),
        # A4 segment counts per group (round-5 consolidation of
        # q_segment_counts — same grouping key, same aggregation pass)
        F.count("*").alias("n_segments"),
    )


def q_join_broadcast(spark, sf_dir):
    """J3 broadcast equi join: orders ⨝ customer ⨝ nation (small dims forced
    broadcast — the media-sidecar join pattern)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )
    return j


def q_left_anti_resume(spark, sf_dir):
    """J3 resume-from-checkpoint pattern: left_anti of inputs vs 'completed'."""
    li = _t(spark, sf_dir, "lineitem")
    done = li.where(F.col("l_orderkey") % 3 == 0).select("l_orderkey").distinct()
    remaining = li.join(done, "l_orderkey", "left_anti")
    return remaining.groupBy("l_returnflag").agg(F.count("*").alias("n_items"))


def q_exceptall_diff(spark, sf_dir):
    """Set op (§2.6): golden diff via EXCEPT ALL — rows in lineitem projection
    not in its filtered twin."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    filtered = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 10).select(
        "l_orderkey", "l_linenumber"
    )
    return li.exceptAll(filtered)


def q_bbox_ops(spark, sf_dir):
    """F10 + F11 in one row (round-5 consolidation of q_bbox_project and
    q_bbox_clip — same source quads, one scan).

    bb_*: quad corner coords → [min_x, min_y, w, h] projection (ref
    local_ocr_engine.py:452-454). x1..y2: Google word-bbox normalized
    vertices → denormalize ×(img_w,img_h) → axis-aligned, clipped to the
    image (ref google_ocr_engine.py:184-205). Quads synthesized from
    lineitem numerics; pure least/greatest codegen, no UDF."""
    li = _t(spark, sf_dir, "lineitem")
    px1, px2 = F.col("l_quantity"), F.col("l_extendedprice") / 1000.0
    py1, py2 = F.col("l_discount") * 100.0, F.col("l_tax") * 100.0
    min_x, max_x = F.least(px1, px2), F.greatest(px1, px2)
    min_y, max_y = F.least(py1, py2), F.greatest(py1, py2)
    img_w, img_h = F.lit(640.0), F.lit(480.0)
    # "normalized" coords in [0,1]-ish derived from numerics (may overshoot —
    # that's the point of the clip)
    nx1, nx2 = F.col("l_discount") * 12.0, F.col("l_tax") * 14.0
    ny1, ny2 = F.col("l_quantity") / 40.0, F.col("l_extendedprice") / 40000.0
    x1 = F.least(F.greatest(F.least(nx1, nx2) * img_w, F.lit(0.0)), img_w)
    y1 = F.least(F.greatest(F.least(ny1, ny2) * img_h, F.lit(0.0)), img_h)
    x2 = F.least(F.greatest(F.greatest(nx1, nx2) * img_w, F.lit(0.0)), img_w)
    y2 = F.least(F.greatest(F.greatest(ny1, ny2) * img_h, F.lit(0.0)), img_h)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(min_x, 6).alias("bb_x"),
        F.round(min_y, 6).alias("bb_y"),
        F.round(max_x - min_x, 6).alias("bb_w"),
        F.round(max_y - min_y, 6).alias("bb_h"),
        F.round(x1, 4).alias("x1"),
        F.round(y1, 4).alias("y1"),
        F.round(x2, 4).alias("x2"),
        F.round(y2, 4).alias("y2"),
    )


def q_box_filter(spark, sf_dir):
    """F3/F4/F5 as nested-array ops: per event_type, sort the box structs,
    filter by score (F3) and min-dimension (F4), cap at 5 (F5), all with
    array expressions (filter/slice/aggregate — no explode, no UDF)."""
    e = _t(spark, sf_dir, "events")
    box = F.struct(
        F.col("value").alias("score"),
        (F.col("event_id") % 7 + 1).alias("w"),
        (F.col("event_id") % 5 + 1).alias("h"),
        F.col("event_id").alias("event_id"),
    )
    boxes = F.array_sort(F.collect_list(box))
    kept = F.slice(
        F.filter(
            boxes,
            lambda b: (b["score"] >= 100.0) & (F.least(b["w"], b["h"]) >= 3),
        ),
        1,
        5,
    )
    agg = e.groupBy("event_type").agg(kept.alias("kept"))
    return agg.where(F.size("kept") > 0).select(
        "event_type",
        F.size("kept").cast("long").alias("n_kept"),
        F.round(
            F.aggregate(F.col("kept"), F.lit(0.0), lambda acc, b: acc + b["score"]), 6
        ).alias("score_sum"),
    )


def q_cloud_flatten(spark, sf_dir):
    """K14 cloud-response flatten (ref google_ocr_engine.py:149-211) + A3
    first-page confidence (:149-150) + F11 denorm/clip bboxes (:184-205).

    A deterministic nested pages→blocks→paragraphs→words→symbols response is
    synthesized from each document's first 12 tokens with native expressions
    (2 pages × 1 block × 2 paragraphs × 3 words; every 5th-ish word carries
    no vertices and is skipped, per the reference), then flattened by the
    real operator (cloud_engine.flatten_response_df — a pure posexplode
    chain, no shuffle, no UDF)."""
    from ocr_spark.operators.cloud_engine import flatten_response_df

    d = _t(spark, sf_dir, "documents")
    toks = F.slice(
        F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""),
        1,
        12,
    )
    vert_t = "array<struct<x:double,y:double>>"

    def word_struct(t, g):
        # g = global word index (Column, int); geometry/conf derived from it
        skip = (g % 5) == F.lit(3)
        x0 = g / F.lit(12.0)
        xr = (g + 1) / F.lit(12.0)
        page = F.floor(g / F.lit(6))
        y0 = page * F.lit(0.5)
        yr = y0 + F.lit(0.4)

        def vert(x, y):
            return F.struct(x.cast("double").alias("x"), y.cast("double").alias("y"))

        verts = F.when(skip, F.array().cast(vert_t)).otherwise(
            F.array(vert(x0, y0), vert(xr, y0), vert(xr, yr), vert(x0, yr))
        )
        conf = ((F.col("doc_id") * 31 + g * 17) % 100) / F.lit(100.0)
        symbols = F.transform(
            F.filter(F.split(t, ""), lambda c: c != ""),
            lambda c: F.struct(c.alias("text")),
        )
        return F.struct(
            symbols.alias("symbols"),
            verts.alias("vertices"),
            conf.cast("double").alias("confidence"),
        )

    def mk_page(p: int):
        pw = F.transform(
            F.slice(toks, p * 6 + 1, 6),
            lambda t, i: word_struct(t, F.lit(p * 6) + i),
        )
        paras = F.filter(
            F.array(
                F.struct(F.slice(pw, 1, 3).alias("words")),
                F.struct(F.slice(pw, 4, 3).alias("words")),
            ),
            lambda pr: F.size(pr["words"]) > 0,
        )
        blocks = F.filter(
            F.array(F.struct(paras.alias("paragraphs"))),
            lambda b: F.size(b["paragraphs"]) > 0,
        )
        conf = ((F.col("doc_id") * 13 + F.lit(p * 7)) % 89) / F.lit(89.0)
        return F.struct(conf.cast("double").alias("confidence"), blocks.alias("blocks"))

    resp = F.struct(
        F.lit(None).cast("string").alias("text"),
        F.array(mk_page(0), mk_page(1)).alias("pages"),
    )
    nested = d.select("doc_id", resp.alias("response"))
    return flatten_response_df(nested, img_w=640, img_h=480)


def q_quad_order(spark, sf_dir):
    """W1 quad point ordering (ref local_ocr_engine.py:258-264: TL=argmin(x+y),
    BR=argmax(x+y), TR=argmin(y-x), BL=argmax(y-x)), F6 shoelace area filter
    (:294-296), and K9 target-width math (:270-281) — all as pure codegen
    array expressions over quads synthesized from lineitem numerics."""
    li = _t(spark, sf_dir, "lineitem")
    xs = F.array(
        F.col("l_quantity").cast("double"),
        (F.col("l_extendedprice") / 1000.0),
        (F.col("l_quantity") + F.col("l_linenumber")).cast("double"),
        (F.col("l_extendedprice") / 2000.0),
    )
    ys = F.array(
        F.col("l_discount") * 100.0,
        F.col("l_tax") * 100.0,
        F.col("l_discount") * 50.0 + 5.0,
        F.col("l_tax") * 50.0 + 2.0,
    )
    ss = F.zip_with(xs, ys, lambda a, b: a + b)
    ds = F.zip_with(xs, ys, lambda a, b: b - a)
    tl_i = F.array_position(ss, F.array_min(ss)).cast("int")
    br_i = F.array_position(ss, F.array_max(ss)).cast("int")
    tr_i = F.array_position(ds, F.array_min(ds)).cast("int")
    bl_i = F.array_position(ds, F.array_max(ds)).cast("int")

    def pt(i):
        return F.element_at(xs, i), F.element_at(ys, i)

    tlx, tly = pt(tl_i)
    trx, try_ = pt(tr_i)
    brx, bry = pt(br_i)
    blx, bly = pt(bl_i)
    area = 0.5 * F.abs(
        tlx * try_ - trx * tly
        + trx * bry - brx * try_
        + brx * bly - blx * bry
        + blx * tly - tlx * bly
    )
    dist = lambda ax, ay, bx, by: F.sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by))
    avg_w = (dist(trx, try_, tlx, tly) + dist(brx, bry, blx, bly)) / 2.0
    avg_h = (dist(blx, bly, tlx, tly) + dist(brx, bry, trx, try_)) / 2.0
    target_w = F.when((avg_h == 0) | (avg_w == 0), F.lit(10)).otherwise(
        F.greatest(F.lit(1), F.least(F.lit(320), F.floor(48.0 * avg_w / avg_h).cast("int")))
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(tlx, 6).alias("tl_x"),
        F.round(tly, 6).alias("tl_y"),
        F.round(trx, 6).alias("tr_x"),
        F.round(try_, 6).alias("tr_y"),
        F.round(brx, 6).alias("br_x"),
        F.round(bry, 6).alias("br_y"),
        F.round(blx, 6).alias("bl_x"),
        F.round(bly, 6).alias("bl_y"),
        # raw double, not rounded: both engines build the identical IEEE
        # expression tree, while their round() implementations disagree on
        # decimal-half boundaries (BigDecimal HALF_UP vs C-lib scaling)
        area.alias("area"),
        (area >= F.lit(9.0)).alias("keep"),
        target_w.cast("int").alias("target_w"),
    )


_QUAD_ORDER_SQL = """
WITH pts AS (
  SELECT l_orderkey, l_linenumber,
    list_value(l_quantity::DOUBLE, l_extendedprice/1000.0,
               (l_quantity + l_linenumber)::DOUBLE, l_extendedprice/2000.0) AS xs,
    list_value(l_discount*100.0, l_tax*100.0,
               l_discount*50.0 + 5.0, l_tax*50.0 + 2.0) AS ys
  FROM lineitem),
idx AS (
  SELECT *,
    list_transform(range(1, 5), i -> xs[i] + ys[i]) AS ss,
    list_transform(range(1, 5), i -> ys[i] - xs[i]) AS ds
  FROM pts),
o AS (
  SELECT l_orderkey, l_linenumber, xs, ys,
    list_indexof(ss, list_aggregate(ss, 'min')) AS tl_i,
    list_indexof(ss, list_aggregate(ss, 'max')) AS br_i,
    list_indexof(ds, list_aggregate(ds, 'min')) AS tr_i,
    list_indexof(ds, list_aggregate(ds, 'max')) AS bl_i
  FROM idx),
c AS (
  SELECT l_orderkey, l_linenumber,
    xs[tl_i] AS tlx, ys[tl_i] AS tly, xs[tr_i] AS trx, ys[tr_i] AS trty,
    xs[br_i] AS brx, ys[br_i] AS bry, xs[bl_i] AS blx, ys[bl_i] AS bly
  FROM o),
m AS (
  SELECT *,
    0.5*abs(tlx*trty - trx*tly + trx*bry - brx*trty
            + brx*bly - blx*bry + blx*tly - tlx*bly) AS area,
    (sqrt((trx-tlx)*(trx-tlx) + (trty-tly)*(trty-tly))
     + sqrt((brx-blx)*(brx-blx) + (bry-bly)*(bry-bly))) / 2.0 AS avg_w,
    (sqrt((blx-tlx)*(blx-tlx) + (bly-tly)*(bly-tly))
     + sqrt((brx-trx)*(brx-trx) + (bry-trty)*(bry-trty))) / 2.0 AS avg_h
  FROM c)
SELECT l_orderkey, l_linenumber,
  round(tlx, 6) AS tl_x, round(tly, 6) AS tl_y,
  round(trx, 6) AS tr_x, round(trty, 6) AS tr_y,
  round(brx, 6) AS br_x, round(bry, 6) AS br_y,
  round(blx, 6) AS bl_x, round(bly, 6) AS bl_y,
  area,
  area >= 9.0 AS keep,
  CASE WHEN avg_h = 0 OR avg_w = 0 THEN 10
       ELSE greatest(1, least(320, floor(48.0*avg_w/avg_h)::INTEGER))
  END::INTEGER AS target_w
FROM m
"""


_CLOUD_FLATTEN_SQL = """
WITH base AS (
  SELECT doc_id,
         (list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                      x -> x <> ''))[1:12] AS toks
  FROM documents),
wrd AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)+1),
                i -> struct_pack(widx := i-1, tok := toks[i]))) AS u
  FROM base),
w2 AS (SELECT doc_id, u.widx AS widx, u.tok AS tok FROM wrd),
f AS (SELECT doc_id, widx, tok,
        (widx // 6)::INTEGER AS page,
        0::INTEGER AS block,
        ((widx % 6) // 3)::INTEGER AS para,
        (widx % 3)::INTEGER AS word,
        widx/12.0 AS x0, (widx+1)/12.0 AS xr,
        (widx // 6)*0.5 AS y0, (widx // 6)*0.5 + 0.4 AS yr
      FROM w2 WHERE widx % 5 <> 3)
SELECT doc_id, page, block, para, word, tok AS word_text,
  greatest(0, floor(x0*640.0))::INTEGER AS x1,
  greatest(0, floor(y0*480.0))::INTEGER AS y1,
  least(640, floor(xr*640.0)::INTEGER) AS x2,
  least(480, floor(yr*480.0)::INTEGER) AS y2,
  ((doc_id*31 + widx*17) % 100)/100.0 AS word_conf,
  ((doc_id*13) % 89)/89.0 AS overall_conf
FROM f
"""


def _media_spans_df(spark, sf_dir):
    """One media span per document (media_ref = 'media://<doc_id>'), built
    natively — the spans-table input the multimodal operators expect."""
    d = _t(spark, sf_dir, "documents")
    span = F.struct(
        F.lit("media").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("media://"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    return d.select(F.col("doc_id").cast("string").alias("doc_id"), F.array(span).alias("spans"))


def q_image_features(spark, sf_dir):
    """Multimodal image features AND block-mean resize through the REAL
    mapInPandas plumbing (media_assets_df → image_features / resize_images):
    payload resolution, Arrow batching, per-asset error envelopes — round-5
    consolidation of q_resize_images (one equi-join on media_ref; the resize
    payload rides as an md5 scalar, binaries are pandas-unhashable). Oracle
    = numpy-golden VALUES computed driver-side by the same deterministic
    kernels — it verifies the distributed plumbing reproduces the direct
    computation exactly."""
    from ocr_spark.operators.multimodal import (
        image_features,
        media_assets_df,
        resize_images,
    )

    assets = media_assets_df(_media_spans_df(spark, sf_dir))
    feats = image_features(assets).select(
        "media_ref", "width", "height", "mean_intensity", "std_intensity", "n_bands"
    )
    rs = resize_images(media_assets_df(_media_spans_df(spark, sf_dir))).select(
        "media_ref", F.md5(F.col("content")).alias("resized_md5")
    )
    return feats.join(rs, "media_ref")


def _multimodal_goldens(sf_dir: str = "/root/testdata/sf0.01"):
    """Driver-side numpy goldens for the multimodal oracles: the same
    deterministic synth/decode/feature kernels run directly (no Spark), one
    row per media ref. Cached per sf_dir."""
    global _MM_GOLD
    try:
        return _MM_GOLD[sf_dir]
    except (NameError, KeyError):
        import hashlib

        import numpy as np
        import pyarrow.parquet as pq

        from ocr_spark.operators.media_kernels import block_mean_resize, detect_bands
        from ocr_spark.sources.media import synth_media_batch

        ids = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
        )["doc_id"].to_pylist()
        refs = [f"media://{i}" for i in ids]
        grays = synth_media_batch(refs)
        feat_rows, resize_rows = [], []
        for ref, g in zip(refs, grays):
            feat_rows.append(
                (ref, 32, 32, float(g.mean()), float(g.std()), len(detect_bands(g)))
            )
            small = np.clip(np.rint(block_mean_resize(g, 8, 8)), 0, 255).astype(np.uint8)
            resize_rows.append((ref, 8, 8, hashlib.md5(small.tobytes()).hexdigest()))
        try:
            _MM_GOLD
        except NameError:
            _MM_GOLD = {}
        _MM_GOLD[sf_dir] = (feat_rows, resize_rows)
        return _MM_GOLD[sf_dir]


def q_audio_features(spark, sf_dir):
    """Audio features through the REAL WAV codecs + mapInPandas plumbing:
    deterministic RIFF payloads ('audio://<doc_id>') decoded with stdlib
    wave (codec='pcm') UNION'd with the compressed-WAV codecs (G.711
    mu-law/A-law + IMA ADPCM — `audio_codecs.wav_decode`, format tags the
    stdlib module rejects; codec='compressed', round-5 consolidation of
    q_audio_compressed), features vs a numpy-golden VALUES oracle (same
    code path run driver-side). Ref anchor: media loading contract
    `ocr_workflow_orchestrator.py:153-178` (any-format decode duty)."""
    from ocr_spark.operators.multimodal import audio_assets_df, audio_features

    refs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("audio://"), F.col("doc_id").cast("string")).alias("media_ref")
    )
    cols = [
        "media_ref", "sample_rate", "n_channels", "duration_sec", "rms",
        "zero_cross_rate",
    ]
    pcm = audio_features(audio_assets_df(refs)).select(*cols).withColumn(
        "codec", F.lit("pcm")
    )
    comp = (
        audio_features(audio_assets_df(refs, encoding="compressed"))
        .select(*cols)
        .withColumn("codec", F.lit("compressed"))
    )
    return pcm.unionByName(comp)


def _audio_features_sql(sf_dir: str) -> str:
    """Numpy-golden VALUES oracle for audio_features — cached per sf_dir
    (decoding the whole WAV corpus is not free) and mirroring the engine's
    degenerate-input guards exactly (0.0, not NaN, for <=1-sample audio).
    One UNION'd table covering BOTH codec families (pcm + compressed),
    matching the consolidated query."""
    global _AF_SQL
    try:
        return _AF_SQL[sf_dir]
    except (NameError, KeyError):
        pass
    import numpy as np
    import pyarrow.parquet as pq

    from ocr_spark.operators.multimodal import decode_audio
    from ocr_spark.sources.media import (
        synth_audio_bytes,
        synth_audio_compressed_bytes,
    )

    ids = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
    )["doc_id"].to_pylist()
    rows = []
    for codec, synth in (("pcm", synth_audio_bytes),
                         ("compressed", synth_audio_compressed_bytes)):
        for i in ids:
            samples, sr = decode_audio(synth(f"audio://{i}"))
            x = samples[:, 0].astype(np.float64) / 32768.0
            rows.append(
                (
                    f"audio://{i}",
                    sr,
                    samples.shape[1],
                    (len(samples) / sr) if sr else None,
                    float(np.sqrt(np.mean(x * x))) if len(x) else 0.0,
                    (
                        float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                        if len(x) > 1
                        else 0.0
                    ),
                    codec,
                )
            )
    if rows:
        body = ", ".join(
            f"('{r}', {sr}, {ch}, {d!r}::DOUBLE, {rms!r}::DOUBLE, "
            f"{z!r}::DOUBLE, '{c}')"
            for r, sr, ch, d, rms, z, c in rows
        )
        sql = (
            f"SELECT * FROM (VALUES {body}) AS t(media_ref, sample_rate, "
            "n_channels, duration_sec, rms, zero_cross_rate, codec)"
        )
    else:
        sql = (
            "SELECT * FROM (VALUES (NULL::VARCHAR, NULL::INTEGER, NULL::INTEGER, "
            "NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::VARCHAR)) "
            "AS t(media_ref, sample_rate, n_channels, duration_sec, rms, "
            "zero_cross_rate, codec) WHERE FALSE"
        )
    try:
        _AF_SQL
    except NameError:
        _AF_SQL = {}
    _AF_SQL[sf_dir] = sql
    return sql


def _phash_goldens(sf_dir: str) -> list[tuple[str, int]]:
    """Driver-side numpy goldens for the pHash queries (cached per sf_dir):
    the SAME decode + phash64 code path run over the deterministic
    near-duplicate image corpus ('img://<doc_id>', groups of 4)."""
    global _PH_G
    try:
        return _PH_G[sf_dir]
    except (NameError, KeyError):
        pass
    import pyarrow.parquet as pq

    from ocr_spark.operators.media_kernels import bytes_to_image, to_grayscale
    from ocr_spark.operators.multimodal import phash64
    from ocr_spark.sources.media import synth_similar_image_bytes

    ids = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
    )["doc_id"].to_pylist()
    rows = [
        (
            f"img://{i}",
            phash64(to_grayscale(bytes_to_image(synth_similar_image_bytes(f"img://{i}")))),
        )
        for i in ids
    ]
    try:
        _PH_G
    except NameError:
        _PH_G = {}
    _PH_G[sf_dir] = rows
    return rows


def _img_refs(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("img://"), F.col("doc_id").cast("string")).alias("media_ref")
    )


def _image_phash_sql(sf_dir: str) -> str:
    rows = _phash_goldens(sf_dir)
    if not rows:
        return (
            "SELECT * FROM (VALUES (NULL::VARCHAR, NULL::BIGINT)) "
            "AS t(media_ref, phash) WHERE FALSE"
        )
    body = ", ".join(f"('{r}', {h})" for r, h in rows)
    return f"SELECT * FROM (VALUES {body}) AS t(media_ref, phash)"


def q_image_near_dups(spark, sf_dir):
    """Image near-duplicate pairs: pHash signatures (decode via real codec
    dispatch -> 32x32 block-mean -> 2-D DCT-II -> 64-bit median-threshold
    hash, vectorized Arrow batches — the q_image_phash operator, whose
    standalone row was consolidated into this one in round 5; the oracle's
    brute-force twin recomputes every signature, so per-image pHash values
    are still fully verified) through the SAME pigeonhole chunk join the
    text SimHash family uses (bits=64, max_hamming=4 -> 12-bit chunk keys,
    no scale warning). The planted groups of 4 re-encoded copies surface as
    pairs; distinct images sit at hamming >= 22."""
    from ocr_spark.operators.dedup import simhash_near_pairs
    from ocr_spark.operators.multimodal import image_phash, similar_image_assets_df

    assets = similar_image_assets_df(_img_refs(spark, sf_dir))
    sig = image_phash(assets).select(
        F.col("media_ref").alias("id"), F.col("phash").alias("simhash")
    )
    return simhash_near_pairs(None, sig=sig, bits=64, max_hamming=4)


def _image_near_dups_sql(sf_dir: str) -> str:
    """Brute-force DuckDB twin over the golden signatures — the pigeonhole
    join is lossless, so brute force is the exact oracle."""
    sig = _image_phash_sql(sf_dir)
    return (
        f"WITH sig AS ({sig}) "
        f"SELECT a.media_ref AS id_a, b.media_ref AS id_b, "
        f"bit_count(xor(a.phash, b.phash))::INTEGER AS hamming "
        f"FROM sig a JOIN sig b ON a.media_ref < b.media_ref "
        f"WHERE bit_count(xor(a.phash, b.phash)) <= 4"
    )


def q_frame_sample(spark, sf_dir):
    """Video frame sampling through the REAL GIF/LZW codec + mapInPandas
    plumbing: deterministic animated GIFs ('video://<doc_id>') decoded
    executor-side, every 2nd frame kept, per-frame features vs a numpy-golden
    VALUES oracle (same code path run driver-side)."""
    from ocr_spark.operators.multimodal import frame_sample, video_assets_df

    refs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("video://"), F.col("doc_id").cast("string")).alias("media_ref")
    )
    fs = frame_sample(video_assets_df(refs), every_n=2)
    return fs.select(
        "media_ref", "frame_idx", "n_frames", "width", "height", "mean_intensity"
    )


def _frame_sample_sql(sf_dir: str) -> str:
    """Numpy-golden VALUES oracle for frame_sample — the same synth/decode/
    feature path run driver-side, cached per sf_dir."""
    global _FS_SQL
    try:
        return _FS_SQL[sf_dir]
    except (NameError, KeyError):
        pass
    import pyarrow.parquet as pq

    from ocr_spark.operators.image_codecs import gif_decode_frames
    from ocr_spark.operators.media_kernels import to_grayscale
    from ocr_spark.sources.media import synth_gif_bytes

    ids = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
    )["doc_id"].to_pylist()
    rows = []
    for i in ids:
        ref = f"video://{i}"
        frames = gif_decode_frames(synth_gif_bytes(ref))
        for fi in range(0, len(frames), 2):
            g = to_grayscale(frames[fi])
            rows.append(
                (ref, fi, len(frames), g.shape[1], g.shape[0], float(g.mean()))
            )
    body = ", ".join(
        f"('{r}', {fi}, {nf}, {w}, {h}, {m!r}::DOUBLE)"
        for r, fi, nf, w, h, m in rows
    )
    sql = (
        f"SELECT * FROM (VALUES {body}) AS t(media_ref, frame_idx, n_frames, "
        "width, height, mean_intensity)"
    )
    try:
        _FS_SQL
    except NameError:
        _FS_SQL = {}
    _FS_SQL[sf_dir] = sql
    return sql


def _image_features_sql(sf_dir: str) -> str:
    feat_rows, resize_rows = _multimodal_goldens(sf_dir)
    md5s = {r: md for r, _w, _h, md in resize_rows}
    rows = ", ".join(
        f"('{r}', {w}, {h}, {m!r}::DOUBLE, {s!r}::DOUBLE, {nb}, '{md5s[r]}')"
        for r, w, h, m, s, nb in feat_rows
    )
    return (
        f"SELECT * FROM (VALUES {rows}) AS t(media_ref, width, height, "
        "mean_intensity, std_intensity, n_bands, resized_md5)"
    )


def _html_payload_expr():
    """Deterministic HTML page per doc, built ONLY from doc_id arithmetic
    (no text parsing → no cross-engine tokenizer parity risk): nav links
    (boilerplate), a 30-word content paragraph, a short footer."""
    words = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(29)),
            lambda i: F.concat(F.lit("w"), ((F.col("doc_id") * 3 + i) % 50).cast("string")),
        ),
        " ",
    )
    return F.concat(
        F.lit(
            '<html><body><div class="nav"><a href="#">home</a> '
            '<a href="#">about</a></div><div class="content"><p>'
        ),
        words,
        F.lit('</p></div><div class="footer">copyright fine print legal</div></body></html>'),
    )


def _html_payload_py(doc_id: int) -> str:
    words = " ".join(f"w{(doc_id * 3 + i) % 50}" for i in range(30))
    return (
        '<html><body><div class="nav"><a href="#">home</a> '
        '<a href="#">about</a></div><div class="content"><p>'
        + words
        + '</p></div><div class="footer">copyright fine print legal</div></body></html>'
    )


_PDF_BASE_BLOCKS = [(10, 10), (200, 12), (12, 150), (205, 148)]


def _pdf_payload_expr():
    """Deterministic layout JSON per doc: four blocks on a 2×2 page grid
    with per-doc coordinate jitter, emitted in a doc-rotated order so the
    XY-cut genuinely has to recover reading order."""
    j = F.col("doc_id") % 7

    def block(i: int):
        x, y = _PDF_BASE_BLOCKS[i]
        return F.concat(
            F.lit('{"x": '),
            (F.lit(x) + j).cast("string"),
            F.lit(', "y": '),
            (F.lit(y) + j).cast("string"),
            F.lit(', "w": 80, "h": 20, "text": "t'),
            F.lit(str(i)),
            F.lit("-"),
            F.col("doc_id").cast("string"),
            F.lit('"}'),
        )

    arr = F.array(*[block(i) for i in range(4)])
    r = (F.col("doc_id") % 4).cast("int")
    rotated = F.concat(F.slice(arr, r + 1, 4 - r), F.slice(arr, 1, r))
    return F.concat(F.lit('{"blocks": ['), F.array_join(rotated, ", "), F.lit("]}"))


def _pdf_payload_py(doc_id: int) -> str:
    j = doc_id % 7
    blocks = [
        f'{{"x": {x + j}, "y": {y + j}, "w": 80, "h": 20, "text": "t{i}-{doc_id}"}}'
        for i, (x, y) in enumerate(_PDF_BASE_BLOCKS)
    ]
    r = doc_id % 4
    rotated = blocks[r:] + blocks[:r]
    return '{"blocks": [' + ", ".join(rotated) + "]}"


def _pdf_real_payload_expr():
    """Deterministic minimal REAL-PDF payload per doc (native exprs): a
    '%PDF-' body of BT/Tf/Td/Tj/ET text objects on the 2×2 grid with per-doc
    jitter, emitted doc-rotated — the structural scan of pdf_parse_blocks
    tolerates the missing xref (the pytest fixtures use the full xref'd
    writer, pdf_layout.pdf_write)."""
    j = F.col("doc_id") % 7

    def block(i: int):
        x, y = _PDF_BASE_BLOCKS[i]
        return F.concat(
            F.lit("BT /F1 12 Tf "),
            (F.lit(x) + j).cast("string"),
            F.lit(" "),
            (F.lit(700) - (F.lit(y) + j)).cast("string"),
            F.lit(" Td (t"),
            F.lit(str(i)),
            F.lit("-"),
            F.col("doc_id").cast("string"),
            F.lit(") Tj ET"),
        )

    arr = F.array(*[block(i) for i in range(4)])
    r = (F.col("doc_id") % 4).cast("int")
    rotated = F.concat(F.slice(arr, r + 1, 4 - r), F.slice(arr, 1, r))
    return F.concat(
        F.lit("%PDF-1.4\n"), F.array_join(rotated, "\n"), F.lit("\n%%EOF")
    )


def _pdf_real_payload_py(doc_id: int) -> str:
    j = doc_id % 7
    blocks = [
        f"BT /F1 12 Tf {x + j} {700 - (y + j)} Td (t{i}-{doc_id}) Tj ET"
        for i, (x, y) in enumerate(_PDF_BASE_BLOCKS)
    ]
    r = doc_id % 4
    rotated = blocks[r:] + blocks[:r]
    return "%PDF-1.4\n" + "\n".join(rotated) + "\n%%EOF"


def q_pdf_real(spark, sf_dir):
    """K15/W3 over REAL PDF bytes: the pdf-kind extractor sniffs '%PDF-',
    parses the text layer (BT/ET objects, Td positioning, Tj strings),
    converts to reading coordinates and recovers reading order by XY-cut —
    through the full pipeline (dispatch Arrow stage + postprocess)."""
    from ocr_spark.pipeline import extract_documents

    docs = _single_span_docs(spark, sf_dir, "pdf", _pdf_real_payload_expr())
    out = extract_documents(docs, rules=[])
    return out.select(
        "doc_id", F.element_at("spans", 1)["text"].alias("extracted")
    )


def _pdf_real_goldens(sf_dir: str):
    global _PR_GOLD
    try:
        return _PR_GOLD[sf_dir]
    except (NameError, KeyError):
        import pyarrow.parquet as pq

        from ocr_spark.operators.dispatch import _postprocess_text
        from ocr_spark.operators.pdf_layout import extract_pdf_text

        ids = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
        )["doc_id"].to_pylist()
        rows = [
            (str(i), _postprocess_text(extract_pdf_text(_pdf_real_payload_py(i)), []))
            for i in ids
        ]
        try:
            _PR_GOLD
        except NameError:
            _PR_GOLD = {}
        _PR_GOLD[sf_dir] = rows
        return rows


def _single_span_docs(spark, sf_dir, kind: str, payload_expr):
    d = _t(spark, sf_dir, "documents")
    span = F.struct(
        F.lit(kind).alias("kind"),
        payload_expr.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"), F.array(span).alias("spans")
    )


def q_html_extract(spark, sf_dir):
    """T8 HTML boilerplate strip through the REAL pipeline (dispatch
    mapInArrow stage + postprocess): deterministic pages built from doc_id
    arithmetic, extracted text compared against a python-golden VALUES
    oracle running the same extractor directly."""
    from ocr_spark.pipeline import extract_documents

    docs = _single_span_docs(spark, sf_dir, "html", _html_payload_expr())
    out = extract_documents(docs, rules=[])
    return out.select(
        "doc_id", F.element_at("spans", 1)["text"].alias("extracted")
    )


def _heavy_kind_goldens(sf_dir: str):
    """Python-golden extraction for the html/pdf oracle VALUES tables: the
    same extractor + postprocess functions the executors run, applied to the
    identically-constructed payloads."""
    global _HK_GOLD
    try:
        return _HK_GOLD[sf_dir]
    except (NameError, KeyError):
        import pyarrow.parquet as pq

        from ocr_spark.operators.dispatch import _postprocess_text
        from ocr_spark.operators.html_extract import extract_main_text
        from ocr_spark.operators.pdf_layout import extract_pdf_text

        ids = pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
        )["doc_id"].to_pylist()
        html_rows = [
            (str(i), _postprocess_text(extract_main_text(_html_payload_py(i)), []))
            for i in ids
        ]
        pdf_rows = [
            (str(i), _postprocess_text(extract_pdf_text(_pdf_payload_py(i)), []))
            for i in ids
        ]
        try:
            _HK_GOLD
        except NameError:
            _HK_GOLD = {}
        _HK_GOLD[sf_dir] = (html_rows, pdf_rows)
        return _HK_GOLD[sf_dir]


def _fixture_tag(sf_dir: str) -> str:
    """Cache key for /tmp-materialized fixtures derived from a corpus dir:
    dir basename + documents.parquet row count + byte size (footer-only
    reads). Keying on the basename alone served STALE fixtures when the
    corpus at that path changed — e.g. a regenerated degenerate corpus —
    and the oracle (recomputed fresh from parquet) then disagreed with the
    Spark side (reading the old archive) on row COUNT, not semantics."""
    import pyarrow.parquet as pq

    p = os.path.join(sf_dir, "documents.parquet")
    return (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"-{pq.read_metadata(p).num_rows}-{os.path.getsize(p)}"
    )


def _warc_fixture_dir(sf_dir: str) -> str:
    """Materialize (once per sf_dir) a deterministic multi-shard .warc.gz
    archive set under /tmp, built from the documents table's ids with the
    same html payload arithmetic as q_html_extract — the Common Crawl-shaped
    input for the WARC ingestion query. Every 5th response is stored with
    chunked transfer framing so dechunking is load-bearing."""
    import pyarrow.parquet as pq

    from ocr_spark.sources.warc import write_warc_fixture

    tag = _fixture_tag(sf_dir)
    out = f"/tmp/ocr_spark_warc/{tag}"
    if os.path.isdir(out) and any(n.endswith(".warc.gz") for n in os.listdir(out)):
        return out
    ids = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
    )["doc_id"].to_pylist()
    docs = [
        (f"https://corpus.example/doc/{i}", _html_payload_py(i)) for i in ids
    ]
    tmp = out + ".building"
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    write_warc_fixture(tmp, docs, n_files=8, chunked_every=5)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)  # lost a benign race
    return out


def _jsonl_fixture_dir(sf_dir: str) -> str:
    """Materialize (once per sf_dir) deterministic JSONL shards under /tmp
    from the documents table, with every doc_id%37==0 line malformed so the
    error-envelope path is load-bearing."""
    import shutil

    import pyarrow.parquet as pq

    from ocr_spark.sources.jsonl import write_jsonl_fixture

    tag = _fixture_tag(sf_dir)
    out = f"/tmp/ocr_spark_jsonl/{tag}"
    if os.path.isdir(out) and any(n.endswith(".jsonl") for n in os.listdir(out)):
        return out
    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    rows = list(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    tmp = out + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    write_jsonl_fixture(rows, tmp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def q_jsonl_ingest(spark, sf_dir):
    """JSONL corpus ingestion with per-line error envelopes: explicit
    schema (no inference pass), PERMISSIVE corrupt-record handling —
    malformed lines survive as (nulls..., error=raw line) rows instead of
    killing the scan."""
    from ocr_spark.sources.jsonl import jsonl_docs

    return jsonl_docs(spark, _jsonl_fixture_dir(sf_dir))


def _jsonl_ingest_sql(sf_dir: str) -> str:
    """DuckDB twin reconstructed from the documents table: well-formed
    lines roundtrip (doc_id, text, NULL); the planted malformed lines come
    back as (NULL, NULL, the exact raw line the fixture wrote)."""
    return (
        "SELECT doc_id, text, NULL::VARCHAR AS error FROM documents "
        "WHERE doc_id % 37 <> 0 "
        "UNION ALL "
        "SELECT NULL::BIGINT, NULL::VARCHAR, "
        "'{\"doc_id\": ' || doc_id || ', \"text\": BROKEN' "
        "FROM documents WHERE doc_id % 37 = 0"
    )


def q_warc_extract(spark, sf_dir):
    """WARC ingestion end-to-end: gzip-member split + record/HTTP parse
    (incl. dechunking) in one mapInArrow stage, html responses reshaped to
    the interleaved-spans frame, then the REAL extract_documents pipeline.
    Oracle = python-golden VALUES over the pre-archive payloads, so the
    writer→reader→extractor roundtrip is what the row locks."""
    from ocr_spark.sources.warc import warc_extract

    out = warc_extract(spark, _warc_fixture_dir(sf_dir))
    return out.select(
        "doc_id", F.element_at("spans", 1)["text"].alias("extracted")
    )


def _warc_goldens(sf_dir: str):
    from ocr_spark.operators.dispatch import _postprocess_text
    from ocr_spark.operators.html_extract import extract_main_text

    import pyarrow.parquet as pq

    ids = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
    )["doc_id"].to_pylist()
    return [
        (
            f"https://corpus.example/doc/{i}",
            _postprocess_text(extract_main_text(_html_payload_py(i)), []),
        )
        for i in ids
    ]


def _values_sql(rows, cols) -> str:
    def esc(s: str) -> str:
        return s.replace("'", "''").replace("\n", "' || chr(10) || '")

    if not rows:  # empty VALUES is a parse error — emit a typed empty set
        body = "(NULL::VARCHAR, NULL::VARCHAR)"
        return (
            f"SELECT * FROM (VALUES {body}) AS t({', '.join(cols)}) WHERE FALSE"
        )
    body = ", ".join(f"('{esc(a)}', '{esc(b)}')" for a, b in rows)
    return f"SELECT * FROM (VALUES {body}) AS t({', '.join(cols)})"


# --- training-data pipeline operators (task directive) ----------------------


def q_token_counts(spark, sf_dir):
    """Token counting, all three estimators in one row (round-5
    consolidation of q_token_counts_bpe): whitespace split, BPE-ish regex
    pretokenizer, and the REAL merges-table BPE (in-repo fixture, ranks
    broadcast, Arrow pandas UDF with a per-executor word memo)."""
    from ocr_spark.functions.bpe import token_counts_bpe
    from ocr_spark.operators import text_analysis as TA

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        TA.ws_token_count(F.col("text")).alias("ws_tokens"),
        TA.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )
    return base.join(token_counts_bpe(d), "doc_id")


def _token_counts_bpe_sql(sf_dir: str) -> str:
    """VALUES oracle for token_counts_bpe from an INDEPENDENT pure-Python
    reference tokenizer: the textbook formulation — apply each merge in
    training order, one left-to-right pass — rather than the engine's
    min-rank loop (the two are equivalent because merging a pair can only
    create higher-rank pairs). Cached per sf_dir."""
    global _BPE_SQL
    try:
        return _BPE_SQL[sf_dir]
    except (NameError, KeyError):
        pass
    import re as _re

    import pyarrow.parquet as pq

    from ocr_spark.functions.bpe import PRETOKEN_PATTERN, load_merges

    merges = load_merges()
    pre = _re.compile(PRETOKEN_PATTERN)

    def ref_word_len(word: str) -> int:
        parts = list(word)
        for a, b in merges:  # strict training order
            out, i = [], 0
            while i < len(parts):
                if i + 1 < len(parts) and parts[i] == a and parts[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(parts[i])
                    i += 1
            parts = out
        return len(parts)

    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    rows = []
    for doc_id, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        n = (
            0
            if text is None
            else sum(ref_word_len(w) for w in pre.findall(text))
        )
        rows.append(f"({doc_id}, {n})")
    sql = (
        f"SELECT * FROM (VALUES {', '.join(rows)}) AS t(doc_id, n_tokens_bpe)"
        if rows
        else (
            "SELECT * FROM (VALUES (NULL::BIGINT, NULL::BIGINT)) "
            "AS t(doc_id, n_tokens_bpe) WHERE FALSE"
        )
    )
    try:
        _BPE_SQL
    except NameError:
        _BPE_SQL = {}
    _BPE_SQL[sf_dir] = sql
    return sql


def q_quality_scores(spark, sf_dir):
    """Both quality estimators in one row (round-5 consolidation of
    q_quality_score + q_quality_repetition). `quality` = the v1
    ratio-heuristic score (alpha/punct/stopword blend) on the raw text.
    The rest are the Gopher/C4 repetition signals on repetition-injected
    text (doc_id-gated duplicate lines and char runs so every signal path
    actually executes): duplicate-line fraction, duplicate-line CHAR
    fraction, top-bigram char fraction, adjacent-char repetition, and the
    blended quality_v2 — all native array/lambda exprs."""
    from ocr_spark.operators.text_analysis import (
        quality_repetition_select,
        quality_score,
    )

    d = _t(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit("\nrepeat me this line\nrepeat me this line"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("\nzzzzzzzz!!!")).otherwise(
            F.lit("\ntail ok")
        ),
    )
    rep = quality_repetition_select(d, t, id_cols=("doc_id", "text"))
    return rep.select(
        "doc_id",
        quality_score(F.col("text")).alias("quality"),
        "dup_line_frac",
        "dup_line_char_frac",
        "top_bigram_char_frac",
        "char_run_rep",
        "quality_v2",
    )


def q_lang_id(spark, sf_dir):
    """Language ID via char-trigram frequency profiles (21 languages,
    Cavnar-Trenkle-style, trained offline into an in-repo fixture): the
    doc's trigram stream joins the BROADCAST profile table, per-lang weight
    sums argmax with deterministic tie-break; docs with zero profile hits
    fall back to the round-2 stopword argmax (round-5 upgrade from the
    4-language stopword heuristic)."""
    from ocr_spark.operators.text_analysis import lang_id_profile

    return lang_id_profile(_t(spark, sf_dir, "documents"))


def q_fingerprint(spark, sf_dir):
    """Canonical document fingerprint (md5 of normalized text) + the exact
    dedup decision it feeds (round-5 consolidation of q_dedup_exact):
    is_kept = this doc is the min-doc_id representative of its fingerprint
    group, computed by the REAL exact_dedup operator and joined back."""
    from ocr_spark.operators import text_analysis as TA
    from ocr_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    fp = d.select("doc_id", TA.fingerprint(F.col("text")).alias("fp"))
    kept = exact_dedup(d).select(
        F.col("doc_id").alias("_kid"), F.lit(True).alias("_k")
    )
    return fp.join(kept, fp["doc_id"] == F.col("_kid"), "left").select(
        "doc_id", "fp", F.coalesce(F.col("_k"), F.lit(False)).alias("is_kept")
    )


def q_jaccard_pairs(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (threshold 0.3 so the synthetic corpus
    yields a non-trivial result set)."""
    from ocr_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.3)


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via pigeonhole chunk join at the SCALE-SAFE
    parameterization (max_hamming=3 over 60 bits → 15-bit chunk keys, 32k
    buckets); the oracle is the O(n²) brute force — equality proves the
    chunked LSH join is lossless AND (since the twin recomputes every
    32-bit SimHash signature from scratch) that the signature kernel
    matches — the standalone q_simhash row was consolidated into this one
    in round 5."""
    from ocr_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)


def q_dedup_clusters(spark, sf_dir):
    """Cluster resolution: near-dup candidate PAIRS → connected components →
    (id, rep) keep/drop labels — the stage that turns pair lists into dedup
    decisions. Pairs come from the scale-safe SimHash pigeonhole join; the
    oracle recomputes them brute-force and closes them with a recursive CTE,
    so equality proves both the pair recall AND the component resolution."""
    from ocr_spark.operators.dedup import (
        _clusters_star,
        _materialize_pairs,
        simhash_near_pairs,
    )

    # run the DISTRIBUTED resolver so the driver gate proves it against
    # DuckDB (dedup_clusters resolves this small subgraph driver-side)
    pairs = simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=3)
    pairs_m, _ = _materialize_pairs(pairs)
    out = _clusters_star(pairs_m, max_rounds=30, stats=None)
    pairs_m.unpersist()  # star's round checkpoints consumed it
    return out


def q_corpus_pipeline_full(spark, sf_dir):
    """The COMPLETE hygiene chain with every text-rewriting stage on:
    Gopher-style quality v2 → SimHash near-dedup keep → exact-substring
    (duplicated verbatim 6-gram) span removal on the survivors → 8-gram
    decontamination (over the CLEANED text) → PII scrub. One oracle row
    covering all stage interactions."""
    from ocr_spark.operators.corpus import corpus_pipeline

    docs = _t(spark, sf_dir, "documents")
    return corpus_pipeline(
        docs.where(F.col("doc_id") % 37 != 0),
        docs.where(F.col("doc_id") % 37 == 0),
        min_quality=0.55,
        quality="v2",
        dedup_method="simhash",
        contamination_n=8,
        dup_span_n=6,
        max_hamming=3,
    )


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing (training-data hygiene): emails/IPs/phones replaced with
    typed placeholders via an ordered regexp chain (pure codegen). PII is
    injected deterministically so the replacement paths actually execute."""
    from ocr_spark.operators import text_analysis as TA

    d = _t(spark, sf_dir, "documents")
    withpii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".7 tel 555-123 4567"),
    )
    return d.select("doc_id", TA.pii_scrub(withpii).alias("scrubbed"))


def q_decon_bloom(spark, sf_dir):
    """Decontamination (corpus docs sharing any 8-gram with the doc_id%37==0
    eval split) in the big-eval regime: a broadcast Bloom bitmap (SplitMix64
    Kirsch-Mitzenmacher probes) kills non-candidate corpus shingles
    map-side; only survivors reach the exact verify join, so the output is
    bit-identical to the exact `contamination` operator — whose standalone
    row was consolidated into this one in round 5 (the oracle IS the exact
    contamination twin, so both semantics stay driver-verified) — while the
    corpus side never shuffles for an unbroadcastable eval set. Ref anchor:
    corpus-hygiene duty `ocr_workflow_orchestrator.py:204-233`."""
    from ocr_spark.operators.dedup import contamination_bloom

    d = _t(spark, sf_dir, "documents")
    return contamination_bloom(
        d.where(F.col("doc_id") % 37 != 0), d.where(F.col("doc_id") % 37 == 0), n=8
    )


def q_ngram_topk(spark, sf_dir):
    """Corpus n-gram statistics: top-20 word bigrams by occurrence count
    (all occurrences — corpus counting, not per-doc sets)."""
    from ocr_spark.operators.dedup import ngram_topk

    return ngram_topk(_t(spark, sf_dir, "documents"), n=2, k=20)


def _query_vec() -> list[float]:
    """Deterministic query vector: embeddings row vec_id=0 at sf0.01 (the
    oracle sf), shared as literals by BOTH engines."""
    global _QV
    try:
        return _QV
    except NameError:
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            "/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"]
        )
        d = {int(i): list(map(float, e)) for i, e in zip(tbl["vec_id"].to_pylist()[:5], tbl["embedding"].to_pylist()[:5])}
        _QV = [round(x, 6) for x in d[0]]
        return _QV


def _ivf_centroids():
    """Deterministic IVF codebook: the first 16 vectors of the sf0.01
    embeddings table (kmeans-init style), rounded to 6dp — shared as literals
    by BOTH engines (a real IVF codebook is likewise trained offline)."""
    global _IVF_C
    try:
        return _IVF_C
    except NameError:
        import numpy as np
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            "/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"]
        )
        vecs = tbl["embedding"].to_pylist()[:16]
        _IVF_C = np.round(np.array(vecs, dtype=np.float64), 6)
        return _IVF_C


def _pq_books():
    """Deterministic PQ codebooks trained driver-side on the first 256
    sf0.01 embeddings (seeded per-subspace k-means) — trained offline like a
    real IVF-PQ index, shared by the Spark stage and the numpy golden."""
    global _PQ_B
    try:
        return _PQ_B
    except NameError:
        import numpy as np
        import pyarrow.parquet as pq

        from ocr_spark.operators.similarity import pq_train_residual

        tbl = pq.read_table(
            "/root/testdata/sf0.01/embeddings.parquet", columns=["embedding"]
        )
        X = np.array(tbl["embedding"].to_pylist()[:256], dtype=np.float64)
        _PQ_B = pq_train_residual(
            X, _ivf_centroids(), m_sub=8, n_codes=16, iters=8, seed=13
        )
        return _PQ_B


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ approximate top-k (IVFADC): coarse-quantize, PQ-encode the
    residual against seeded per-subspace codebooks, ADC-score probed lists
    in one vectorized Arrow stage, TakeOrdered global top-k — the
    memory-scale ANN path (8 uint8 codes replace 64 floats per vector)."""
    from ocr_spark.operators.similarity import ivfpq_topk

    return ivfpq_topk(
        _t(spark, sf_dir, "embeddings"), _query_vec(), _ivf_centroids(),
        _pq_books(), k=10, nprobe=4,
    )


def _ivfpq_sql(sf_dir: str) -> str:
    """Numpy-golden VALUES oracle for ivfpq_topk (cached per sf_dir): the
    SAME scoring core (`ivfpq_scores_np`) run driver-side over the parquet
    table — deterministic float64 end to end."""
    global _IVFPQ_SQL
    try:
        return _IVFPQ_SQL[sf_dir]
    except (NameError, KeyError):
        pass
    import numpy as np
    import pyarrow.parquet as pq

    from ocr_spark.operators.similarity import ivfpq_scores_np, probe_lists

    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    )
    ids = np.array(tbl["vec_id"].to_pylist(), dtype=np.int64)
    X = np.array(tbl["embedding"].to_pylist(), dtype=np.float64)
    qv = np.asarray(_query_vec(), dtype=np.float64)
    centroids = _ivf_centroids()
    probe = probe_lists(centroids, qv, 4)
    gid, gs = ivfpq_scores_np(ids, X, qv, centroids, _pq_books(), probe)
    top = sorted(zip(gid, gs), key=lambda t: (-t[1], t[0]))[:10]
    body = ", ".join(f"({int(i)}, {float(s)!r}::DOUBLE)" for i, s in top)
    sql = f"SELECT * FROM (VALUES {body}) AS t(vec_id, pq_score)"
    try:
        _IVFPQ_SQL
    except NameError:
        _IVFPQ_SQL = {}
    _IVFPQ_SQL[sf_dir] = sql
    return sql


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates. The hash family is the cross-engine
    md5-h60('<shingle_hash>:<seed>'), so the full operator — signatures,
    banding, estimated-Jaccard verify — has an exact DuckDB twin."""
    from ocr_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"), threshold=0.3)


def _emb_planes(sf_dir: str) -> int:
    """Corpus-size-derived plane count, from parquet metadata (no scan) —
    the same derivation embedded in the DuckDB twin."""
    import pyarrow.parquet as pq

    from ocr_spark.operators.similarity import derived_n_planes

    n = pq.read_metadata(os.path.join(sf_dir, "embeddings.parquet")).num_rows
    return derived_n_planes(n)


def q_near_dedup_embed(spark, sf_dir):
    """Semantic near-dedup: documents minus non-representatives of
    embedding-cosine clusters (sign-LSH pairs over the embeddings table —
    the q_embedding_near_dups operator, whose standalone row was
    consolidated into this one in round 5; the oracle recomputes the pair
    set brute-force, so pair recall stays fully verified — resolved by
    connected components, dropped from the docs frame via one left_anti
    join: the full ANN→decision path)."""
    from ocr_spark.operators.dedup import near_dedup

    kept = near_dedup(
        _t(spark, sf_dir, "documents"),
        method="embedding",
        embeddings=_t(spark, sf_dir, "embeddings"),
        threshold=0.2,
        n_planes=_emb_planes(sf_dir),
    )
    return kept.select("doc_id", "n_chars")


# hashing-trick cosine near-dup bar: measured on the sf0.01 corpus the
# bucketed candidate cosine distribution has a long template-vocabulary
# shoulder (0.5-0.8, thousands of pairs) and a near-dup tail (>=0.9, ~80
# pairs) — 0.9 sits past the shoulder, where true rewordings/duplicates live
_TE_THRESHOLD = 0.9


def _doc_planes(sf_dir: str) -> int:
    """Corpus-size-derived sign-LSH plane count for the DOCUMENTS table
    (text_embedding bridge), from parquet footers — same derivation as
    _emb_planes."""
    import pyarrow.parquet as pq

    from ocr_spark.operators.similarity import derived_n_planes

    n = pq.read_metadata(os.path.join(sf_dir, "documents.parquet")).num_rows
    return derived_n_planes(n)


def q_text_embed_dedup(spark, sf_dir):
    """Semantic near-dedup end-to-end from `documents` ALONE: deterministic
    hashing-trick token embeddings (text_embedding — h32 bucket/sign,
    integer-sum coordinates, one explode + two partial-agg shuffles), then
    the same sign-LSH pair → connected-components → left_anti keep path as
    near_dedup_embed. Closes the text→embedding gap: no pregenerated
    embeddings table required for the semantic-dedup family."""
    from ocr_spark.operators.dedup import near_dedup
    from ocr_spark.operators.similarity import text_embedding

    docs = _t(spark, sf_dir, "documents")
    kept = near_dedup(
        docs,
        method="embedding",
        embeddings=text_embedding(docs),
        threshold=_TE_THRESHOLD,
        n_planes=_doc_planes(sf_dir),
    )
    return kept.select("doc_id", "n_chars")


def _ann_query_vecs() -> list[list[float]]:
    """Deterministic recall-probe set: embeddings rows vec_id 0..3 at sf0.01
    (the oracle sf), 6dp literals shared by BOTH engines."""
    global _ANN_QV
    try:
        return _ANN_QV
    except NameError:
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            "/root/testdata/sf0.01/embeddings.parquet", columns=["vec_id", "embedding"]
        )
        d = {
            int(i): [round(float(x), 6) for x in e]
            for i, e in zip(
                tbl["vec_id"].to_pylist()[:4], tbl["embedding"].to_pylist()[:4]
            )
        }
        _ANN_QV = [d[i] for i in range(4)]
        return _ANN_QV


def _ann_recall_sql_row() -> str:
    from ocr_spark.operators.similarity import ann_recall_sql

    return ann_recall_sql(_ann_query_vecs(), centroids=_ivf_centroids(), k=10)


def q_ann_recall(spark, sf_dir):
    """ANN recall harness: recall@10 of the lsh and ivf paths vs exact
    cosine on the same frame, 4 fixed probe queries — recall regressions
    become a correctness row instead of silence."""
    from ocr_spark.operators.similarity import ann_recall

    return ann_recall(
        _t(spark, sf_dir, "embeddings"),
        _ann_query_vecs(),
        centroids=_ivf_centroids(),
        k=10,
    )


# ---------------------------------------------------------------------------
# corpus-cleaning operators (corpus_clean.py): CCNet-style line dedup,
# unigram surprisal, token-window chunking, stratified sampling, mojibake
# ---------------------------------------------------------------------------

_LINE_WPL = 2  # words per synthesized line (driver text has no newlines)


def _lined_docs(spark, sf_dir):
    """documents with deterministic 2-word line structure (the driver corpus
    is single-line; both engines synthesize identical lines from the token
    array so line_dedup has real cross-doc duplicate lines to remove)."""
    from ocr_spark.operators import corpus_clean as CC

    docs = _t(spark, sf_dir, "documents")
    toks = CC.ws_tokens(F.col("text"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(_LINE_WPL)
    )
    lined = F.array_join(
        F.transform(
            starts,
            lambda s: F.array_join(F.slice(toks, s, _LINE_WPL), " "),
        ),
        "\n",
    )
    return docs.select(F.col("doc_id"), lined.alias("text"))


def _lined_docs_sql() -> str:
    from ocr_spark.operators import corpus_clean as CC

    toks = CC.ws_tokens_sql("text")
    # the inner coalesce pins empty/whitespace-only/null text to '' on both
    # engines: DuckDB's array_to_string([]) is NULL while Spark's
    # array_join([]) is '' (and Spark's array_join SKIPS null elements), so
    # without it a wordless doc's synthesized text went NULL here and only
    # here — degenerate-corpus twin finding, round 5
    return (
        "SELECT doc_id, array_to_string(list_transform("
        f"generate_series(1, greatest(length(toks), 1), {_LINE_WPL}), "
        f"s -> coalesce(array_to_string(list_slice(toks, s, least(s + {_LINE_WPL - 1}, "
        "length(toks))), ' '), '')), chr(10)) AS text "
        f"FROM (SELECT doc_id, {toks} AS toks FROM documents)"
    )


def q_line_dedup(spark, sf_dir):
    from ocr_spark.operators.corpus_clean import line_dedup

    return line_dedup(_lined_docs(spark, sf_dir), min_docs=20)


def _url_docs(spark, sf_dir):
    """documents with a deterministic synthesized url column (the driver
    corpus has no URL; both engines derive identical URLs from doc_id,
    covering mixed case, default/explicit ports, two-level suffixes,
    tracking params and fragments)."""
    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    s = i.cast("string")
    scheme = (
        F.when(i % 3 == 0, F.lit("HTTP"))
        .when(i % 3 == 1, F.lit("https"))
        .otherwise(F.lit("http"))
    )
    www = F.when(i % 4 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    tld = (
        F.when(i % 5 == 0, F.lit(".co.uk"))
        .when(i % 5 == 1, F.lit(".Example.COM"))
        .otherwise(F.lit(".site.org"))
    )
    port = (
        F.when(i % 6 == 0, F.lit(":80"))
        .when(i % 6 == 1, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    qs = F.when(
        i % 2 == 0, F.concat(F.lit("?utm_source=x&id="), s)
    ).otherwise(F.lit(""))
    frag = F.when(i % 7 == 0, F.lit("#top")).otherwise(F.lit(""))
    url = F.concat(
        scheme, F.lit("://"), www, F.lit("Host"), (i % 37).cast("string"),
        tld, port, F.lit("/p/"), s, qs, frag,
    )
    return d.select("doc_id", url.alias("url"), "n_chars")


def _url_docs_sql() -> str:
    return """
SELECT doc_id,
       (CASE doc_id % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https' ELSE 'http' END)
       || '://'
       || (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END)
       || 'Host' || (doc_id % 37)::VARCHAR
       || (CASE doc_id % 5 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.Example.COM'
           ELSE '.site.org' END)
       || (CASE doc_id % 6 WHEN 0 THEN ':80' WHEN 1 THEN ':8080' ELSE '' END)
       || '/p/' || doc_id::VARCHAR
       || (CASE WHEN doc_id % 2 = 0
           THEN '?utm_source=x&id=' || doc_id::VARCHAR ELSE '' END)
       || (CASE WHEN doc_id % 7 = 0 THEN '#top' ELSE '' END) AS url,
       n_chars
FROM documents
""".strip()


def q_url_normalize(spark, sf_dir):
    """URL canonicalization for crawl corpora: RFC-3986 parse, lowercased
    scheme/host, default ports and fragments stripped, tracking params
    dropped, plus the heuristic registrable domain — pure codegen'd
    expressions over the scan."""
    from ocr_spark.functions.url import registrable_domain, url_normalize

    d = _url_docs(spark, sf_dir)
    return d.select(
        "doc_id",
        url_normalize(F.col("url")).alias("norm_url"),
        registrable_domain(F.col("url")).alias("domain"),
    )


def q_blocklist_filter(spark, sf_dir):
    """Domain-blocklist crawl hygiene, end to end: derive the blocklist from
    corpus stats (top-3 registrable domains by doc count, deterministic
    tie-break — the q_domain_stats groupBy aggregation, whose standalone row
    was consolidated into this one in round 5: the stats pass is embedded
    here and the oracle recomputes it) and drop every doc under them — one
    broadcast left_anti, the corpus never shuffles."""
    from ocr_spark.functions.url import blocklist_filter, registrable_domain

    d = _url_docs(spark, sf_dir)
    blocked = (
        d.groupBy(registrable_domain(F.col("url")).alias("domain"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "domain")
        .limit(3)
        .select("domain")
    )
    return blocklist_filter(d, blocked).select("doc_id", "url")


def _temp_thresholds(sf_dir: str) -> dict:
    """Temperature-sampling thresholds from driver-side parquet counts —
    computed ONCE in Python and injected into BOTH engines as literals
    (pow() can differ by an ulp between libm implementations)."""
    global _TT
    try:
        return _TT[sf_dir]
    except (NameError, KeyError):
        pass
    import duckdb

    from ocr_spark.operators.corpus_clean import temperature_targets

    cnt = dict(
        duckdb.connect().execute(
            f"SELECT lang, count(*) FROM read_parquet("
            f"'{os.path.join(sf_dir, 'documents.parquet')}') "
            f"WHERE lang IS NOT NULL GROUP BY lang"
        ).fetchall()
    )
    try:
        _TT
    except NameError:
        _TT = {}
    _TT[sf_dir] = temperature_targets(cnt, total_target=200, temperature=0.7)
    return _TT[sf_dir]


_RULE_PARAMS = {"min_stop_words": 0, "min_sentences": 1}  # driver corpus has
# no stopwords/sentence punctuation; the full defaults are unit-tested on
# crafted docs


def q_rule_filter(spark, sf_dir):
    """C4/Gopher heuristic rule filter with AUDITABLE decisions: every doc
    gets (keep, reasons[]) naming exactly which rules fired — word-count
    bounds, mean word length, symbol ratio, bullet/ellipsis line fractions,
    alpha-word fraction, stop words, sentence count, placeholder text. One
    codegen'd pass, staged word/line arrays, no shuffle. The board row
    flattens `reasons` to one comma-joined string: the driver compares flat
    columns only."""
    from ocr_spark.operators.text_analysis import rule_filter_select

    rf = rule_filter_select(
        _t(spark, sf_dir, "documents"), F.col("text"), params=_RULE_PARAMS
    )
    return rf.select("doc_id", "keep", F.array_join("reasons", ",").alias("reasons"))


def _rule_filter_board_sql() -> str:
    """DuckDB twin of q_rule_filter: rule_filter_sql with `reasons` joined
    the same way (DuckDB joins an empty list to NULL, Spark to '')."""
    from ocr_spark.operators.text_analysis import rule_filter_sql

    return (
        "SELECT doc_id, keep, coalesce(array_to_string(reasons, ','), '') AS reasons "
        f"FROM ({rule_filter_sql(params=_RULE_PARAMS)})"
    )


def q_temperature_sample(spark, sf_dir):
    """Temperature-flattened source mixing (mC4/XLM-R style): ~200 docs
    sampled with language shares ∝ n^0.7 — the low-resource up-weighting
    every multilingual corpus build runs. Deterministic h32 buckets against
    literal thresholds; the corpus never shuffles."""
    from ocr_spark.operators.corpus_clean import temperature_sample

    return temperature_sample(
        _t(spark, sf_dir, "documents"), 200, 0.7,
        thresholds=_temp_thresholds(sf_dir),
    )


def q_dup_span_removal(spark, sf_dir):
    """Exact-substring dedup (Lee et al. family): every verbatim word 6-gram
    occurring >= 2 times corpus-wide is removed from every document — one
    partial-agg shuffle of 8-byte gram keys, broadcast dup set, covered
    positions left-joined back onto the row. Fed (doc_id, text), the
    oracle's `src`, so the row stays (doc_id, text, n_tokens, n_removed)."""
    from ocr_spark.operators.corpus_clean import dup_span_removal

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dup_span_removal(docs, n=6, min_count=2)


def q_ngram_perplexity(spark, sf_dir):
    """Trigram Stupid-Backoff LM perplexity (CCNet-style quality filter;
    Brants et al. 2007), self-trained on the corpus. Supersedes the
    round-4 `unigram_logprob` board row (its strict generalization — the
    unigram op keeps direct Spark-vs-DuckDB pytest coverage in
    tests/test_corpus_clean.py). Tight caps + min_count=2 exercise both
    pruning paths at sf0.01."""
    from ocr_spark.operators.ngram_lm import ngram_perplexity

    return ngram_perplexity(
        _t(spark, sf_dir, "documents"),
        top_unigrams=2000,
        top_bigrams=3000,
        top_trigrams=3000,
        min_count=2,
    )


def q_chunk_docs(spark, sf_dir):
    from ocr_spark.operators.corpus_clean import chunk_docs

    return chunk_docs(_t(spark, sf_dir, "documents"), chunk_tokens=16, overlap=4)


def q_stratified_sample(spark, sf_dir):
    from ocr_spark.operators.corpus_clean import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), target_per_stratum=50, stratum_col="lang"
    )


def _moji_decorated(col):
    """Driver text is plain ASCII; decorate with repair-target punctuation so
    the injection has something to corrupt."""
    return F.concat(F.lit("‘"), col, F.lit("’ — é…"))


def q_mojibake_repair(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    dec = _moji_decorated(F.col("text"))
    inj = F.when(
        F.col("doc_id") % 3 == 0, TX.mojibake_inject(dec)
    ).otherwise(dec)
    fixed = TX.mojibake_repair(inj)
    return docs.select(
        F.col("doc_id"),
        fixed.alias("text_fixed"),
        (inj != fixed).alias("was_mojibake"),
    )


def _mojibake_repair_oracle() -> str:
    dec = "'‘' || text || '’ — é…'"
    inj = (
        f"CASE WHEN doc_id % 3 = 0 THEN {TX.mojibake_inject_sql(dec)} "
        f"ELSE {dec} END"
    )
    return (
        f"SELECT doc_id, {TX.mojibake_repair_sql(inj)} AS text_fixed, "
        f"({inj}) <> ({TX.mojibake_repair_sql(inj)}) AS was_mojibake "
        "FROM documents"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """EXACTLY 50 entries — the driver records only the FIRST 50 registered
    queries in CORRECTNESS_r{N}.json (r3 lost 1 of 51, r4 lost 23 of 73),
    so round 5 consolidated trivially-redundant rows into multi-column rows
    (the old name → new row mapping is in each q_* docstring and SURVEY §2)
    and the board is kept at the cap so EVERY operator family lands a
    driver-green row. Adding a query means merging or retiring another —
    enforced by tests/test_round5_fixes.py::TestQueryBoardCap."""
    return {
        # text postprocessing family
        "process_output": q_process_output,
        "extract_text": q_extract_text,
        "error_filter": q_error_filter,
        "dispatch_case": q_dispatch_case,
        "mojibake_repair": q_mojibake_repair,
        "pii_scrub": q_pii_scrub,
        "rule_filter": q_rule_filter,
        "quality_scores": q_quality_scores,
        "lang_id": q_lang_id,
        "token_counts": q_token_counts,
        "fingerprint": q_fingerprint,
        "fulltext_assembly": q_fulltext_assembly,
        # events (span/confidence) family
        "confidence_mean": q_confidence_mean,
        "span_reassembly": q_span_reassembly,
        "window_order": q_window_order,
        "topk_slice": q_topk_slice,
        "box_filter": q_box_filter,
        # joins / set ops / geometry
        "join_broadcast": q_join_broadcast,
        "left_anti_resume": q_left_anti_resume,
        "exceptall_diff": q_exceptall_diff,
        "bbox_ops": q_bbox_ops,
        "quad_order": q_quad_order,
        # media / sources family
        "image_features": q_image_features,
        "image_near_dups": q_image_near_dups,
        "audio_features": q_audio_features,
        "frame_sample": q_frame_sample,
        "cloud_flatten": q_cloud_flatten,
        "pdf_real": q_pdf_real,
        "html_extract": q_html_extract,
        "warc_extract": q_warc_extract,
        "jsonl_ingest": q_jsonl_ingest,
        # dedup / corpus-hygiene family
        "jaccard_pairs": q_jaccard_pairs,
        "minhash_lsh": q_minhash_lsh,
        "simhash_pairs": q_simhash_pairs,
        "dedup_clusters": q_dedup_clusters,
        "line_dedup": q_line_dedup,
        "dup_span_removal": q_dup_span_removal,
        "decon_bloom": q_decon_bloom,
        "ngram_topk": q_ngram_topk,
        "corpus_pipeline_full": q_corpus_pipeline_full,
        # sampling / corpus-stats family
        "temperature_sample": q_temperature_sample,
        "stratified_sample": q_stratified_sample,
        "chunk_docs": q_chunk_docs,
        "ngram_perplexity": q_ngram_perplexity,
        # URL family
        "url_normalize": q_url_normalize,
        "blocklist_filter": q_blocklist_filter,
        # similarity / ANN family
        "ivfpq_topk": q_ivfpq_topk,
        "ann_recall": q_ann_recall,
        "near_dedup_embed": q_near_dedup_embed,
        "text_embed_dedup": q_text_embed_dedup,
    }


def _rules_sql(expr: str) -> str:
    return TX.apply_rules_sql(expr, RULES)


def oracle_sql(sf_dir: str = "/root/testdata/sf0.01") -> dict[str, str]:
    """DuckDB twins. `sf_dir` parameterizes the few oracles whose goldens
    depend on the table contents (multimodal VALUES tables, the corpus-
    derived LSH plane count); the driver's compare runs at sf0.01 (the
    default), scripts/check_oracles.py passes its own sf_dir."""
    cw = TX.clean_whitespace_sql("text")
    return {
        "process_output": (
            f"SELECT doc_id, {cw} AS cleaned, "
            f"{_rules_sql('text')} AS replaced, "
            f"{_rules_sql(cw)} AS processed FROM documents"
        ),
        "extract_text": (
            "SELECT doc_id, "
            + TX.repair_hyphenation_sql(TX.normalize_newlines_sql("text"))
            + " AS repaired, "
            + f"{TX.extract_text_sql('text', RULES)} AS extracted FROM documents"
        ),
        "error_filter": (
            "SELECT doc_id, n_chars FROM documents "
            "WHERE NOT starts_with(text, 'Error:') AND text <> 'REC_FAIL'"
        ),
        "confidence_mean": (
            "SELECT user_id, coalesce(avg(value) FILTER (WHERE value > 0), 0.0) AS mean_conf, "
            "count(*) AS n_events FROM events GROUP BY user_id"
        ),
        "fulltext_assembly": (
            "SELECT lang, length(string_agg(text, chr(10) ORDER BY doc_id)) AS text_len "
            "FROM documents GROUP BY lang"
        ),
        "span_reassembly": (
            "SELECT user_id, string_agg(event_type, '|' ORDER BY ts, event_id) AS seq "
            "FROM events GROUP BY user_id"
        ),
        "dispatch_case": (
            "SELECT doc_id, CASE WHEN source = 'web' THEN 'html_extractor' "
            "WHEN source = 'pdf' THEN 'pdf_extractor' "
            "WHEN lang = 'en' THEN 'ocr_local' ELSE 'dummy_engine' END AS engine, "
            "'Dummy OCR result from DummyOCREngine for doc ' || doc_id AS dummy_text, "
            "CAST(0.99 AS DOUBLE) AS dummy_conf "
            "FROM documents"
        ),
        "window_order": (
            "SELECT event_id, user_id, value, rn, rn = 1 AS is_first "
            "FROM (SELECT event_id, user_id, value, "
            "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn "
            "FROM events) WHERE rn <= 5"
        ),
        "topk_slice": (
            "SELECT event_type, array_to_string((list(event_id ORDER BY event_id, value))[1:10], '|') "
            "AS first_ids, count(*) AS n_segments FROM events GROUP BY event_type"
        ),
        "join_broadcast": (
            "SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
        ),
        "left_anti_resume": (
            "SELECT l_returnflag, count(*) AS n_items FROM lineitem "
            "WHERE l_orderkey NOT IN (SELECT DISTINCT l_orderkey FROM lineitem "
            "WHERE l_orderkey % 3 = 0) GROUP BY l_returnflag"
        ),
        "exceptall_diff": (
            "SELECT l_orderkey, l_linenumber FROM lineitem "
            "EXCEPT ALL "
            "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity > 10"
        ),
        "bbox_ops": (
            "SELECT l_orderkey, l_linenumber, "
            "round(least(l_quantity, l_extendedprice/1000.0), 6) AS bb_x, "
            "round(least(l_discount*100.0, l_tax*100.0), 6) AS bb_y, "
            "round(greatest(l_quantity, l_extendedprice/1000.0) "
            "- least(l_quantity, l_extendedprice/1000.0), 6) AS bb_w, "
            "round(greatest(l_discount*100.0, l_tax*100.0) "
            "- least(l_discount*100.0, l_tax*100.0), 6) AS bb_h, "
            "round(least(greatest(least(l_discount*12.0, l_tax*14.0)*640.0, 0.0), 640.0), 4) AS x1, "
            "round(least(greatest(least(l_quantity/40.0, l_extendedprice/40000.0)*480.0, 0.0), 480.0), 4) AS y1, "
            "round(least(greatest(greatest(l_discount*12.0, l_tax*14.0)*640.0, 0.0), 640.0), 4) AS x2, "
            "round(least(greatest(greatest(l_quantity/40.0, l_extendedprice/40000.0)*480.0, 0.0), 480.0), 4) AS y2 "
            "FROM lineitem"
        ),
        "box_filter": (
            "WITH boxes AS (SELECT event_type, value AS score, "
            "event_id % 7 + 1 AS w, event_id % 5 + 1 AS h, event_id FROM events), "
            "flt AS (SELECT event_type, score, row_number() OVER "
            "(PARTITION BY event_type ORDER BY score, w, h, event_id) AS rn "
            "FROM boxes WHERE score >= 100.0 AND least(w, h) >= 3) "
            "SELECT event_type, count(*) AS n_kept, round(sum(score), 6) AS score_sum "
            "FROM flt WHERE rn <= 5 GROUP BY event_type"
        ),
        "cloud_flatten": _CLOUD_FLATTEN_SQL,
        "quad_order": _QUAD_ORDER_SQL,
        "image_features": _image_features_sql(sf_dir),
        "html_extract": _values_sql(
            _heavy_kind_goldens(sf_dir)[0], ["doc_id", "extracted"]
        ),
        "audio_features": _audio_features_sql(sf_dir),
        "frame_sample": _frame_sample_sql(sf_dir),
        "image_near_dups": _image_near_dups_sql(sf_dir),
        "pdf_real": _values_sql(_pdf_real_goldens(sf_dir), ["doc_id", "extracted"]),
        "warc_extract": _values_sql(_warc_goldens(sf_dir), ["doc_id", "extracted"]),
        "jsonl_ingest": _jsonl_ingest_sql(sf_dir),
        **_training_oracles(sf_dir),
    }


def _quality_scores_sql() -> str:
    from ocr_spark.operators.text_analysis import (
        quality_repetition_sql,
        quality_score_sql,
    )

    # identical injected text on both sides (chr(10) = \n in DuckDB strings)
    t = (
        "(text || chr(10) || 'repeat me this line' || chr(10) || "
        "'repeat me this line' || CASE WHEN doc_id % 3 = 0 "
        "THEN chr(10) || 'zzzzzzzz!!!' ELSE chr(10) || 'tail ok' END)"
    )
    return (
        f"SELECT q.*, v.quality FROM ({quality_repetition_sql(t)}) q "
        f"JOIN (SELECT doc_id, {quality_score_sql('text')} AS quality "
        f"FROM documents) v USING (doc_id)"
    )


def _pii_scrub_sql() -> str:
    from ocr_spark.operators.text_analysis import pii_scrub_sql

    withpii = (
        "text || ' contact user' || doc_id || '@example.com from 10.0.' "
        "|| (doc_id % 200) || '.7 tel 555-123 4567'"
    )
    return f"SELECT doc_id, {pii_scrub_sql('(' + withpii + ')')} AS scrubbed FROM documents"


def _corpus_pipeline_full_sql_row() -> str:
    from ocr_spark.operators.corpus import corpus_pipeline_sql

    return corpus_pipeline_sql(
        eval_mod=37, min_quality=0.55, max_hamming=3,
        contamination_n=8, max_shared_shingles=0,
        quality="v2", dup_span_n=6,
    )


def _training_oracles(sf_dir: str = "/root/testdata/sf0.01") -> dict[str, str]:
    from ocr_spark.functions import url as U
    from ocr_spark.operators import corpus_clean as CC
    from ocr_spark.operators import ngram_lm as NL
    from ocr_spark.operators import text_analysis as TA
    from ocr_spark.operators.dedup import (
        contamination_sql,
        dedup_clusters_sql,
        exact_dedup_sql,
        jaccard_pairs_sql,
        minhash_lsh_sql,
        ngram_topk_sql,
        simhash_sql,
    )

    # brute-force O(n²) SimHash pair twin (same as the simhash_pairs oracle)
    sh_pairs_sql = (
        f"WITH sig AS ({simhash_sql()}) "
        f"SELECT a.id AS id_a, b.id AS id_b "
        f"FROM sig a JOIN sig b ON a.id < b.id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
    )
    clusters_sql = dedup_clusters_sql(sh_pairs_sql)

    return {
        "token_counts": (
            f"SELECT d.doc_id, {TA.ws_token_count_sql('d.text')} AS ws_tokens, "
            f"{TA.bpe_token_count_sql('d.text')} AS bpe_tokens, v.n_tokens_bpe "
            f"FROM documents d JOIN ({_token_counts_bpe_sql(sf_dir)}) v "
            f"ON d.doc_id = v.doc_id"
        ),
        "quality_scores": _quality_scores_sql(),
        "lang_id": TA.lang_id_profile_sql("SELECT doc_id, text FROM documents"),
        "fingerprint": (
            f"SELECT doc_id, {TA.fingerprint_sql('text')} AS fp, "
            f"doc_id IN (SELECT doc_id FROM ({exact_dedup_sql()})) AS is_kept "
            f"FROM documents"
        ),
        "jaccard_pairs": jaccard_pairs_sql(threshold=0.3),
        "simhash_pairs": (
            # brute-force O(n²) hamming — proves the engine's pigeonhole
            # chunk join loses no pairs
            f"WITH sig AS ({simhash_sql()}) "
            f"SELECT a.id AS id_a, b.id AS id_b, "
            f"bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming "
            f"FROM sig a JOIN sig b ON a.id < b.id "
            f"WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
        ),
        "minhash_lsh": minhash_lsh_sql(threshold=0.3),
        "line_dedup": CC.line_dedup_sql(_lined_docs_sql(), min_docs=20),
        "url_normalize": (
            f"SELECT doc_id, {U.url_normalize_sql('url')} AS norm_url, "
            f"{U.registrable_domain_sql('url')} AS domain FROM ({_url_docs_sql()})"
        ),
        "blocklist_filter": (
            "SELECT doc_id, url FROM ("
            + U.blocklist_filter_sql(
                _url_docs_sql(),
                f"SELECT {U.registrable_domain_sql('url')} AS domain "
                f"FROM ({_url_docs_sql()}) GROUP BY 1 "
                f"ORDER BY count(*) DESC, domain LIMIT 3",
            )
            + ")"
        ),
        "rule_filter": _rule_filter_board_sql(),
        "temperature_sample": CC.temperature_sample_sql(
            "SELECT doc_id, lang FROM documents", _temp_thresholds(sf_dir)
        ),
        "dup_span_removal": CC.dup_span_removal_sql(
            "SELECT doc_id, text FROM documents", n=6, min_count=2
        ),
        "ngram_perplexity": NL.ngram_perplexity_sql(
            "SELECT doc_id, text FROM documents",
            top_unigrams=2000,
            top_bigrams=3000,
            top_trigrams=3000,
            min_count=2,
        ),
        "chunk_docs": CC.chunk_docs_sql(
            "SELECT doc_id, text FROM documents", chunk_tokens=16, overlap=4
        ),
        "stratified_sample": CC.stratified_sample_sql(
            "SELECT doc_id, lang FROM documents",
            target_per_stratum=50,
            stratum_col="lang",
        ),
        "mojibake_repair": _mojibake_repair_oracle(),
        "dedup_clusters": clusters_sql,
        "corpus_pipeline_full": _corpus_pipeline_full_sql_row(),
        "pii_scrub": _pii_scrub_sql(),
        # bit-identical to exact `contamination` by construction (Bloom is a
        # prefilter; the exact verify join removes false positives)
        "decon_bloom": contamination_sql(eval_mod=37, n=8),
        "ngram_topk": ngram_topk_sql(n=2, k=20),
        "ann_recall": _ann_recall_sql_row(),
        "ivfpq_topk": _ivfpq_sql(sf_dir),
        "near_dedup_embed": (
            f"WITH cl AS ({dedup_clusters_sql('SELECT id_a, id_b FROM (' + _embedding_near_dups_sql(threshold=0.2, n_planes=_emb_planes(sf_dir)) + ')')}) "
            "SELECT doc_id, n_chars FROM documents "
            "WHERE doc_id NOT IN (SELECT id FROM cl WHERE id <> rep)"
        ),
        "text_embed_dedup": _text_embed_dedup_sql(sf_dir),
    }


def _text_embed_dedup_sql(sf_dir: str) -> str:
    from ocr_spark.operators.dedup import dedup_clusters_sql
    from ocr_spark.operators.similarity import text_embedding_sql

    pairs = _embedding_near_dups_sql(
        threshold=_TE_THRESHOLD,
        n_planes=_doc_planes(sf_dir),
        src=text_embedding_sql(),
    )
    return (
        f"WITH cl AS ({dedup_clusters_sql('SELECT id_a, id_b FROM (' + pairs + ')')}) "
        "SELECT doc_id, n_chars FROM documents "
        "WHERE doc_id NOT IN (SELECT id FROM cl WHERE id <> rep)"
    )


def _embedding_near_dups_sql(
    threshold: float,
    n_planes: int = 8,
    src: str = "SELECT vec_id, embedding FROM embeddings",
) -> str:
    """Sign-LSH bucketed near-dup pair twin over any (vec_id, embedding)
    subquery — the embeddings table by default, the text_embedding bridge
    for text_embed_dedup."""
    from ocr_spark.operators.similarity import hyperplanes

    planes = hyperplanes(n_planes)

    def lit(arr):
        return "[" + ", ".join(f"{float(x)!r}" for x in arr) + "]::DOUBLE[]"

    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {lit(p)}) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    from ocr_spark.operators.similarity import _sql_cos

    # _sql_cos carries the shared zero-norm guard (greatest(den, 1e-300)):
    # a zero vector pairs at cos 0.0 on both engines, matching cosine()
    cos = f"round({_sql_cos('a.v', 'bb.v')}, 6)"
    return (
        f"WITH b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v, ({bucket}) AS bucket "
        f"FROM ({src})) "
        f"SELECT a.id AS id_a, bb.id AS id_b, {cos} AS cos_sim "
        f"FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.id < bb.id "
        f"WHERE {cos} >= {threshold}"
    )
