"""J1/J2 — per-kind dispatch inside ONE Arrow-batched mapInArrow stage.

The reference selects an engine per document via a 3-level fallback chain
(ref ocr_workflow_orchestrator.py:272-294) and keeps a registry of loaded
engines (ref :40-105). Here the registry is a static dict kind→extractor
(code shipped with --py-files; no dynamic import on executors), and dispatch
is a branch on the `kind` column INSIDE the UDF — one Python stage for all
heavy kinds instead of one shuffle per kind.

The stage operates on pyarrow RecordBatches directly (`mapInArrow`), never
pandas: the nested `spans` array stays columnar end-to-end. A pandas round
trip materializes every span struct as a Python dict — measured at >2× the
cost of the actual kernels on the synthetic corpus — whereas here only the
heavy spans' (kind, text, media_ref) strings ever cross into Python, the
kernels run per heavy span, and the span array is rebuilt zero-copy around a
single `if_else` on the text child array. Per-doc bookkeeping (span→doc
mapping, confidence aggregation A2, error envelopes) is numpy over the list
offsets — zero per-row Python (north rule).

Error envelopes follow the reference (ref ocr_workflow_orchestrator.py:308-319):
a failing span sets the document's `error`/`error_source` and the doc keeps
flowing with the span's original payload; the batch never dies.

Parity note: the reference's ImagePreprocessor exists but is never wired into
the orchestrator (ref :137-138 sets preprocessor=None) — we match: detection
runs on the raw grayscale; the preprocessing kernels are exposed and tested
standalone (operators/media_kernels.preprocess_pipeline).
"""

from __future__ import annotations

import re
from collections.abc import Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T

from ocr_spark.schema import SPAN_STRUCT

STAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT, False), False),
        T.StructField("confidence", T.DoubleType(), True),
        # mergeable A2 parts: giant-doc chunking (pipeline span_chunk_threshold)
        # recombines confidence across chunks as sum(conf_sum)/sum(conf_cnt)
        T.StructField("conf_sum", T.DoubleType(), True),
        T.StructField("conf_cnt", T.LongType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("error_source", T.StringType(), True),
    ]
)

HEAVY = ("html", "pdf", "ocr", "media")
MEDIA_KINDS = ("ocr", "media")

# per-doc payload map column attached by the sidecar join (pipeline);
# consumed (and dropped) by the Arrow stage when backend == "sidecar"
MEDIA_SIDECAR_COL = "media_payloads"


def _fit_pad_gray(g: np.ndarray, side: int) -> np.ndarray:
    """K6-style aspect-preserving fit: bilinear resize by min(side/h, side/w)
    (int-truncated dims, as detection_preprocess), zero-pad bottom/right to
    a (side, side) uint8 canvas."""
    from ocr_spark.operators.media_kernels import resize_bilinear

    h, w = g.shape[:2]
    ratio = min(side / h, side / w)
    nh, nw = max(1, int(h * ratio)), max(1, int(w * ratio))
    resized = np.clip(np.rint(resize_bilinear(g, nh, nw)), 0, 255).astype(np.uint8)
    canvas = np.zeros((side, side), dtype=np.uint8)
    canvas[:nh, :nw] = resized
    return canvas


def _resolve_sidecar(
    batch: pa.RecordBatch, refs, m_idx: np.ndarray, doc_of_span: np.ndarray
):
    """Resolve media spans from the doc's broadcast-joined payload map
    (S1 binaryFile path): bytes → image → grayscale per span. PNG payloads
    decode through the real codec (signature-sniffed); anything else is the
    raw synthetic format. Returns (grays, ok, errs) where errs carries
    (media-span-ordinal, exception) for missing refs and corrupt payloads —
    both degrade to per-doc envelopes."""
    from ocr_spark.operators.media_kernels import (
        IMG_SIDE,
        bytes_to_image,
        to_grayscale,
    )
    from ocr_spark.operators.multimodal import decode_image, detect_codec

    # operate on the MapArray structure directly instead of to_pylist():
    # offsets/keys/items index the flattened entries, so payload BYTES cross
    # into Python only for spans that are actually probed (once each) — a
    # to_pylist() here copied every payload of every doc in the batch up
    # front, probed or not
    mcol = batch.column(MEDIA_SIDECAR_COL)
    offsets = mcol.offsets.to_numpy()
    mkeys, mitems = mcol.keys, mcol.items
    doc_is_null = mcol.is_null().to_numpy(zero_copy_only=False)
    key_idx: dict[int, dict] = {}  # doc → {ref: flattened entry index}

    def _payload(doc: int, ref):
        if ref is None or doc_is_null[doc]:
            return None
        d = key_idx.get(doc)
        if d is None:
            d = {
                mkeys[k].as_py(): k
                for k in range(int(offsets[doc]), int(offsets[doc + 1]))
            }
            key_idx[doc] = d
        k = d.get(ref)
        if k is None:
            return None
        v = mitems[k]
        return v.as_py() if v.is_valid else None

    n = len(refs)
    grays = np.zeros((n, IMG_SIDE, IMG_SIDE), dtype=np.uint8)
    ok = np.zeros(n, dtype=bool)
    errs: list[tuple[int, Exception]] = []
    for j, ref in enumerate(refs):
        doc = int(doc_of_span[m_idx[j]])
        payload = _payload(doc, ref)
        if payload is None:
            errs.append((j, ValueError(f"unresolvable media_ref: {ref!r}")))
            continue
        try:
            if detect_codec(bytes(payload[:12])) is not None:
                try:
                    g = to_grayscale(decode_image(bytes(payload)))
                except Exception:
                    # a RAW synthetic payload can start with a real magic by
                    # chance (2-byte BM/FFD8 ≈ 1/32k of payloads): when the
                    # sniffed decode fails but the payload has exactly the
                    # synthetic contract's shape, fall back instead of
                    # degrading the doc to an error envelope
                    if len(payload) == IMG_SIDE * IMG_SIDE:
                        g = to_grayscale(bytes_to_image(payload))
                    else:
                        raise
                if g.shape != (IMG_SIDE, IMG_SIDE):
                    # arbitrary-size real images → kernel input size via the
                    # K6 convention: ASPECT-PRESERVING bilinear resize by
                    # min(target/h, target/w), zero-pad bottom/right (the
                    # reference's detection_preprocess geometry — a plain
                    # square resize would distort non-square pages)
                    g = _fit_pad_gray(g, IMG_SIDE)
                grays[j] = g
            else:
                grays[j] = to_grayscale(bytes_to_image(payload))
            ok[j] = True
        except Exception as e:  # corrupt payload → per-doc envelope
            errs.append((j, e))
    return grays, ok, errs


_SQUEEZE = re.compile(r"[ \t]+")
_BLANKS = re.compile(r"\n{2,}")


def _postprocess_text(text: str, rules) -> str:
    """Reference postprocessor on extracted heavy-kind text: clean whitespace
    then ordered rules (ref postprocessing_module.py:130-146). Runs on the
    short already-extracted strings inside the Arrow batch; the text-kind hot
    path uses the native-expression twin in functions/text.py."""
    t = text.replace("\r\n", "\n").replace("\r", "\n")
    t = t.strip()
    t = _SQUEEZE.sub(" ", t)
    t = _BLANKS.sub("\n", t)
    for find, repl in rules:
        t = t.replace(find, repl)
    return t


def _postprocess_array(arr: pa.Array, rules) -> pa.Array:
    """Arrow-compute twin of _postprocess_text over a whole string array —
    the media-span outputs are ASCII ([a-z \\n] + injected markers), where
    RE2 and Python `re` agree on these patterns; equality with the scalar
    path is asserted in tests/test_heavy_operators.py."""
    a = pc.replace_substring(arr, pattern="\r\n", replacement="\n")
    a = pc.replace_substring(a, pattern="\r", replacement="\n")
    a = pc.utf8_trim_whitespace(a)
    a = pc.replace_substring_regex(a, pattern=r"[ \t]+", replacement=" ")
    a = pc.replace_substring_regex(a, pattern=r"\n{2,}", replacement="\n")
    for find, repl in rules:
        a = pc.replace_substring(a, pattern=find, replacement=repl)
    return a


def _process_batch(
    batch: pa.RecordBatch,
    rules,
    backend: str,
    passthrough: tuple[str, ...] = (),
    media_engine: str = "local",
) -> pa.RecordBatch:
    from ocr_spark.operators.media_kernels import recognize_gray_batch
    from ocr_spark.operators.registry import get_extractor
    from ocr_spark.sources.media import resolve_gray_batch

    # J1 media-engine selection: the local ONNX-analogue kernel chain, the
    # rotated-quad geometry path (W1/F6/K9/K10), or the cloud analogue
    # (K13 PNG → fake API → K14 flatten). Same batch contract for all three.
    if media_engine == "cloud":
        from ocr_spark.operators.cloud_engine import recognize_cloud_batch

        recognize_gray_batch = recognize_cloud_batch
    elif media_engine == "local_warp":
        from ocr_spark.operators.quad_geometry import recognize_quad_batch

        recognize_gray_batch = recognize_quad_batch
    elif media_engine == "local_db":
        from ocr_spark.operators.db_detect import recognize_db_batch

        recognize_gray_batch = recognize_db_batch
    elif media_engine != "local":
        raise ValueError(f"unknown media_engine {media_engine!r}")

    # J2 registry lookup — executor-local lazy singletons (S4 analogue)
    extract_main_text = get_extractor("html_density")
    extract_pdf_text = get_extractor("pdf_xycut")

    doc_id = batch.column("doc_id")
    spans = batch.column("spans")
    n_docs = len(spans)

    lens = pc.list_value_length(spans).to_numpy(zero_copy_only=False).astype(np.int64)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = spans.flatten()  # StructArray, logical order matching `offsets`
    n_spans = len(flat)
    kind = flat.field("kind")
    text = flat.field("text")
    media_ref = flat.field("media_ref")
    offset_f = flat.field("offset")

    doc_of_span = np.repeat(np.arange(n_docs, dtype=np.int64), lens)

    # per-span replacement slots (only heavy spans are ever touched)
    repl: np.ndarray = np.empty(n_spans, dtype=object)
    replaced = np.zeros(n_spans, dtype=bool)
    conf_sum = np.zeros(n_docs, dtype=np.float64)
    conf_cnt = np.zeros(n_docs, dtype=np.int64)
    has_media = np.zeros(n_docs, dtype=bool)
    err: list[str | None] = [None] * n_docs
    err_src: list[str | None] = [None] * n_docs
    # first-error = the failing span with the SMALLEST flat position (== span
    # array order within the doc) — matching the reference's per-document
    # sequential processing, independent of the kind-by-kind batch order here
    err_pos = np.full(n_docs, np.iinfo(np.int64).max, dtype=np.int64)

    def record_error(doc: int, pos: int, e: Exception, src: str) -> None:
        if pos < err_pos[doc]:
            err_pos[doc] = pos
            err[doc] = f"{type(e).__name__}: {e}"
            err_src[doc] = src

    # ---- text-kind extractors (html boilerplate T8, pdf XY-cut K15/W3) ----
    for k, fn in (("html", extract_main_text), ("pdf", extract_pdf_text)):
        k_idx = np.flatnonzero(pc.equal(kind, k).to_numpy(zero_copy_only=False))
        if k_idx.size == 0:
            continue
        texts = text.take(pa.array(k_idx)).to_pylist()
        for pos, t in zip(k_idx, texts):
            try:
                repl[pos] = _postprocess_text(fn(t or ""), rules)
                replaced[pos] = True
            except Exception as e:  # error envelope, keep flowing
                record_error(int(doc_of_span[pos]), int(pos), e, k)

    # ---- media kinds (K1..K12 + T6 kernel chain over resolved payloads) ----
    m_mask = pc.is_in(kind, value_set=pa.array(MEDIA_KINDS)).to_numpy(zero_copy_only=False)
    m_idx = np.flatnonzero(m_mask)
    if m_idx.size:
        np.bitwise_or.at(has_media, doc_of_span[m_idx], True)
        refs = media_ref.take(pa.array(m_idx)).to_pylist()
        if backend == "sidecar":
            grays, ok, errs = _resolve_sidecar(batch, refs, m_idx, doc_of_span)
        else:
            grays, ok = resolve_gray_batch(refs, backend)
            errs = [
                (int(j), ValueError(f"unresolvable media_ref: {refs[j]!r}"))
                for j in np.flatnonzero(~ok)
            ]
        if errs:
            kinds_m = kind.take(pa.array(m_idx)).to_pylist()
            for j, e in errs:
                record_error(int(doc_of_span[m_idx[j]]), int(m_idx[j]), e, kinds_m[j])
        good_pos = m_idx[ok]
        grays_ok = grays[ok]
        try:
            texts_m, confs_m = recognize_gray_batch(grays_ok)
        except Exception:
            # a poison payload must not kill the whole Spark task: retry per
            # image so individual failures degrade to per-doc error envelopes
            # (the scalar-path semantics) while the rest of the batch flows
            n_ok = len(grays_ok)
            texts_list: list[str] = []
            confs_all = np.zeros(n_ok, dtype=np.float64)
            rec_ok = np.zeros(n_ok, dtype=bool)
            kinds_g = kind.take(pa.array(good_pos)).to_pylist()
            for j in range(n_ok):
                try:
                    t1, c1 = recognize_gray_batch(grays_ok[j : j + 1])
                except Exception as e:
                    p = int(good_pos[j])
                    record_error(int(doc_of_span[p]), p, e, kinds_g[j])
                    continue
                texts_list.append(t1[0])
                confs_all[j] = c1[0]
                rec_ok[j] = True
            texts_m = texts_list
            confs_m = confs_all[rec_ok]
            good_pos = good_pos[rec_ok]
        processed = _postprocess_array(pa.array(texts_m, type=pa.string()), rules)
        repl[good_pos] = np.asarray(processed.to_pylist(), dtype=object)
        replaced[good_pos] = True
        # A2 contributions, vectorized per doc
        docs_m = doc_of_span[good_pos]
        posi = confs_m > 0.0
        np.add.at(conf_sum, docs_m[posi], confs_m[posi])
        np.add.at(conf_cnt, docs_m[posi], 1)

    # ---- columnar rebuild: one if_else on the text child, reuse the rest ----
    repl_arr = pa.array(repl, type=text.type, from_pandas=True)
    new_text = pc.if_else(pa.array(replaced), repl_arr, text)
    new_flat = pa.StructArray.from_arrays(
        [kind, new_text, media_ref, offset_f],
        fields=list(pa.struct(
            [("kind", kind.type), ("text", text.type),
             ("media_ref", media_ref.type), ("offset", offset_f.type)]
        )),
    )
    new_spans = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), new_flat)

    # A2: overall confidence = mean of valid (>0) confidences over media
    # spans, 0.0 if media spans exist but none valid, null if no media.
    conf_np = np.where(conf_cnt > 0, conf_sum / np.maximum(conf_cnt, 1), 0.0)
    no_media = ~has_media
    arrays = [
        doc_id,
        new_spans,
        pa.array(conf_np, type=pa.float64(), mask=no_media),
        pa.array(conf_sum, type=pa.float64(), mask=no_media),
        pa.array(conf_cnt, type=pa.int64(), mask=no_media),
        pa.array(err, type=pa.string()),
        pa.array(err_src, type=pa.string()),
    ]
    names = ["doc_id", "spans", "confidence", "conf_sum", "conf_cnt", "error", "error_source"]
    for c in passthrough:
        arrays.append(batch.column(c))
        names.append(c)
    return pa.RecordBatch.from_arrays(arrays, names=names)


def apply_heavy_kinds(
    df,
    rules: Sequence[tuple[str, str]],
    media_resolver: str = "synthetic",
    passthrough: tuple[str, ...] = (),
    media_engine: str = "local",
):
    """mapInArrow stage handling html/pdf/ocr/media spans of each doc.

    Input:  doc_id, spans (text-kinds already normalized natively), plus any
            `passthrough` columns copied verbatim to the output (used by the
            giant-doc chunking path to carry the chunk index through).
    Output: STAGE_SCHEMA (+ passthrough); extractor column added by caller.
    media_engine: 'local' (DBNet/CRNN-analogue kernel chain) or 'cloud'
            (PNG-encode → nested-response flatten, cloud_engine.py).
    """
    rules = list(rules)
    backend = media_resolver

    schema = T.StructType(list(STAGE_SCHEMA.fields) + [df.schema[c] for c in passthrough])

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _process_batch(batch, rules, backend, passthrough, media_engine)

    return df.mapInArrow(gen, schema=schema)
