"""Error-envelope ordering and degradation semantics of the dispatch stage
(ADVICE round 1): first error = failing span with the smallest span position
(reference per-document order), and a poison media payload degrades to a
per-doc envelope instead of failing the whole task."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from ocr_spark.operators.dispatch import _process_batch

SPAN_T = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)

BAD_PDF = '{"blocks": [{"text": "no coords"}]}'  # KeyError inside XY-cut


def _batch(docs: list[list[tuple[str, str | None, str | None, int]]]) -> pa.RecordBatch:
    spans = pa.array(
        [
            [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for (k, t, m, o) in doc
            ]
            for doc in docs
        ],
        type=pa.list_(SPAN_T),
    )
    ids = pa.array([f"d{i}" for i in range(len(docs))])
    return pa.RecordBatch.from_arrays([ids, spans], names=["doc_id", "spans"])


def _run(batch, **kw):
    out = _process_batch(batch, rules=[], backend="synthetic", **kw)
    return {
        out.column("doc_id")[i].as_py(): {
            "error": out.column("error")[i].as_py(),
            "error_source": out.column("error_source")[i].as_py(),
            "spans": out.column("spans")[i].as_py(),
        }
        for i in range(len(out.column("doc_id")))
    }


def test_first_error_is_span_order_not_kind_order():
    # media span FIRST (position 0, unresolvable), failing pdf span SECOND:
    # the envelope must report the media error, even though the stage
    # processes html, then pdf, then media
    docs = [
        [
            ("ocr", None, None, 0),  # null media_ref → unresolvable
            ("pdf", BAD_PDF, None, 1),
        ],
        [  # reversed: pdf failure comes first
            ("pdf", BAD_PDF, None, 0),
            ("ocr", None, None, 1),
        ],
    ]
    out = _run(_batch(docs))
    assert out["d0"]["error_source"] == "ocr"
    assert "unresolvable" in out["d0"]["error"]
    assert out["d1"]["error_source"] == "pdf"
    assert "KeyError" in out["d1"]["error"]


def test_poison_payload_degrades_per_doc(monkeypatch):
    from ocr_spark.operators import media_kernels

    real = media_kernels.recognize_gray_batch
    # poison marker: the all-255 image makes the (fake) kernel blow up —
    # only when it is present in the batch
    def raising(grays):
        if (grays == 255).all(axis=(1, 2)).any():
            raise RuntimeError("corrupt payload")
        return real(grays)

    monkeypatch.setattr(media_kernels, "recognize_gray_batch", raising)

    docs = [
        [("media", None, "m-good-1", 0)],
        [("media", None, "POISON", 0)],
        [("media", None, "m-good-3", 0)],
    ]
    batch = _batch(docs)

    # also poison the resolver output for the marked ref
    from ocr_spark.sources import media as media_src

    real_resolve = media_src.resolve_gray_batch

    def resolve(refs, backend="synthetic"):
        grays, ok = real_resolve([r if r != "POISON" else "x" for r in refs], backend)
        for i, r in enumerate(refs):
            if r == "POISON":
                grays[i] = 255
        return grays, ok

    monkeypatch.setattr(media_src, "resolve_gray_batch", resolve)

    out = _run(batch)
    # the poisoned doc carries an envelope; the good docs extracted normally
    assert out["d1"]["error"] is not None and "corrupt payload" in out["d1"]["error"]
    assert out["d1"]["error_source"] == "media"
    for d in ("d0", "d2"):
        assert out[d]["error"] is None
        assert out[d]["spans"][0]["text"] not in (None, "")
    # good docs' text matches the unpoisoned batch path
    clean = _run(
        _batch([[("media", None, "m-good-1", 0)], [("media", None, "m-good-3", 0)]])
    )
    assert out["d0"]["spans"] == clean["d0"]["spans"]
    assert out["d2"]["spans"] == clean["d1"]["spans"]


def test_charset_guard_asserts():
    from ocr_spark.operators import media_kernels as mk

    old = mk.CHARSET
    try:
        mk.CHARSET = list("abcdefghijklmnopqrstuvwxyz0123456789 ")  # 37 > 32
        from ocr_spark.sources.media import synth_media_batch

        with pytest.raises(AssertionError):
            # needs an image WITH detected bands (the guard sits past the
            # empty-detection early-exit)
            mk.recognize_gray_batch(synth_media_batch(["m-good-1"]))
    finally:
        mk.CHARSET = old


def test_confidence_parts_null_exactly_without_media():
    # A2: confidence is null for a doc with no media span, 0.0 for one whose
    # media spans yield no valid confidence, and > 0 otherwise
    docs = [
        [("media", None, "m-good-1", 0), ("media", None, "m-good-3", 1)],
        [("pdf", BAD_PDF, None, 0)],
        [("ocr", None, None, 0)],  # unresolvable
    ]
    out = _process_batch(_batch(docs), rules=[], backend="synthetic")
    conf = out.column("confidence").to_pylist()
    assert conf[0] > 0
    assert conf[1] is None
    assert conf[2] == 0.0


# ---- streamed media path: chunks of media_kernels._REC_CHUNK spans --------


def _media_docs(n_docs: int, per_doc: int):
    return [
        [("media", None, f"m-{d}-{j}", j) for j in range(per_doc)]
        for d in range(n_docs)
    ]


def test_media_working_set_bounded_by_chunk():
    # peak traced memory must grow with the batch by far less than one
    # 32x32 image (1 KB) per media span: images live one chunk at a time
    import tracemalloc

    def peak(n_docs):
        batch = _batch(_media_docs(n_docs, 1024))
        tracemalloc.start()
        try:
            _process_batch(batch, rules=[], backend="synthetic")
            return tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()

    _process_batch(_batch(_media_docs(1, 8)), rules=[], backend="synthetic")  # warm
    small, large = peak(4), peak(16)
    per_span = (large - small) / ((16 - 4) * 1024)
    assert per_span < 512, per_span


def test_poison_retry_stays_inside_its_chunk(monkeypatch):
    from ocr_spark.operators import media_kernels
    from ocr_spark.sources import media as media_src

    real = media_kernels.recognize_gray_batch
    single_calls = []

    def raising(grays):
        if len(grays) == 1:
            single_calls.append(1)
        if (grays == 255).all(axis=(1, 2)).any():
            raise RuntimeError("corrupt payload")
        return real(grays)

    real_resolve = media_src.resolve_gray_batch

    def resolve(refs, backend="synthetic"):
        grays, ok = real_resolve([r if r != "POISON" else "x" for r in refs], backend)
        for i, r in enumerate(refs):
            if r == "POISON":
                grays[i] = 255
        return grays, ok

    docs = _media_docs(4, 100)  # 400 media spans; ordinal 300 opens d3
    clean = _run(_batch(docs))
    docs[3][0] = ("media", None, "POISON", 0)
    monkeypatch.setattr(media_kernels, "recognize_gray_batch", raising)
    monkeypatch.setattr(media_src, "resolve_gray_batch", resolve)
    out = _run(_batch(docs))

    assert 0 < len(single_calls) <= media_kernels._REC_CHUNK
    assert "corrupt payload" in out["d3"]["error"]
    assert out["d3"]["error_source"] == "media"
    assert out["d3"]["spans"][1:] == clean["d3"]["spans"][1:]
    for d in ("d0", "d1", "d2"):
        assert out[d] == clean[d]


@pytest.mark.parametrize("backend", ["synthetic", "sidecar"])
def test_media_envelopes_across_chunk_boundaries(backend):
    from ocr_spark.operators.dispatch import MEDIA_SIDECAR_COL
    from ocr_spark.sources.media import synth_media_bytes

    # 7 docs x (1 text + 60 media spans): docs 2 and 4 straddle the media
    # ordinals 128 and 256 where chunks start
    docs = [
        [("text", f"intro {d}", None, 0)]
        + [("ocr" if j < 2 else "media", None, f"r-{d}-{j}", j + 1) for j in range(60)]
        for d in range(7)
    ]
    bad = {  # media ordinal -> (doc, span index, replacement, source, error)
        130: (2, 11, ("ocr", None, None, 11), "ocr", "unresolvable"),
    }
    if backend == "sidecar":
        bad[300] = (5, 1, ("media", None, "r-missing", 1), "media", "unresolvable")
        # too short to decode: a corrupt payload
        bad[395] = (6, 36, ("media", None, "r-corrupt", 36), "media", "too small")
    else:  # a synthetic ref is missing only when empty
        bad[300] = (5, 1, ("media", None, "", 1), "media", "unresolvable")

    def run(ds):
        batch = _batch(ds)
        if backend == "sidecar":
            maps = [
                [
                    (m, b"short" if m == "r-corrupt" else synth_media_bytes(m))
                    for (_k, _t, m, _o) in doc
                    if m and m != "r-missing"
                ]
                for doc in ds
            ]
            batch = batch.append_column(
                MEDIA_SIDECAR_COL, pa.array(maps, type=pa.map_(pa.string(), pa.binary()))
            )
        out = _process_batch(batch, rules=[], backend=backend)
        return {r["doc_id"]: r for r in out.to_pylist()}

    clean = run(docs)
    assert all(r["error"] is None for r in clean.values())
    for d, i, span, _src, _msg in bad.values():
        docs[d][i] = span
    out = run(docs)
    bad_docs = {d: (i, src, msg) for d, i, _s, src, msg in bad.values()}
    for d in range(7):
        got, want = out[f"d{d}"], clean[f"d{d}"]
        if d not in bad_docs:
            assert got == want, d
            continue
        i, src, msg = bad_docs[d]
        assert got["error_source"] == src and msg in got["error"], d
        assert got["spans"][i]["text"] is None  # original payload kept
        assert got["spans"][:i] + got["spans"][i + 1 :] == (
            want["spans"][:i] + want["spans"][i + 1 :]
        )
