"""End-to-end binaryFile sidecar path (S1 production seam): real payload
files on disk → binaryFile scan → broadcast join on media_ref → bytes decoded
inside the Arrow stage — with missing-ref and corrupt-payload envelopes."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_spark.sources.media import sidecar_df, synth_media_bytes


@pytest.fixture(scope="module")
def payload_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("payloads")
    (d / "good1.bin").write_bytes(synth_media_bytes("sidecar-a"))
    (d / "good2.bin").write_bytes(synth_media_bytes("sidecar-b"))
    (d / "corrupt.bin").write_bytes(b"short")  # < 1024 bytes → decode error
    return d


def _expected_text(payload: bytes, rules) -> str:
    from ocr_spark.operators.dispatch import _postprocess_text
    from ocr_spark.operators.media_kernels import bytes_to_image, recognize_gray_batch, to_grayscale

    gray = to_grayscale(bytes_to_image(payload))
    texts, _ = recognize_gray_batch(gray[None])
    return _postprocess_text(texts[0], rules)


def test_sidecar_e2e(spark, payload_dir):
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.schema import DOC_SCHEMA

    sidecar = sidecar_df(spark, str(payload_dir) + "/*.bin")
    uris = {r.media_ref.rsplit("/", 1)[-1]: r.media_ref for r in sidecar.collect()}
    assert set(uris) == {"good1.bin", "good2.bin", "corrupt.bin"}

    rules = [["hte", "the"]]

    def doc(doc_id, spans):
        return (doc_id, spans)

    docs = spark.createDataFrame(
        [
            doc(
                "a",
                [
                    ("text", "  hello \r\nworld  ", None, 0),
                    ("media", None, uris["good1.bin"], 1),
                ],
            ),
            doc("b", [("media", None, uris["corrupt.bin"], 0)]),
            doc("c", [("ocr", None, "missing://nope", 0)]),
            doc("d", [("text", "pure  text", None, 0)]),
            doc("e", [("media", None, uris["good2.bin"], 0)]),
        ],
        DOC_SCHEMA,
    )
    out = {
        r.doc_id: r
        for r in extract_documents(docs, rules=rules, media_sidecar=sidecar).collect()
    }
    assert len(out) == 5

    # good payloads: decoded through the SAME kernel chain, no envelope
    good1 = (payload_dir / "good1.bin").read_bytes()
    assert out["a"].error is None
    assert out["a"].spans[1].text == _expected_text(good1, rules)
    # T1→T4: "\r\n"→"\n", strip, [ \t]+ squeeze (single pre-\n space remains)
    assert out["a"].spans[0].text == "hello \nworld"  # native text path intact
    good2 = (payload_dir / "good2.bin").read_bytes()
    assert out["e"].error is None
    assert out["e"].spans[0].text == _expected_text(good2, rules)

    # corrupt payload → per-doc envelope, doc keeps flowing
    assert out["b"].error is not None and "too small" in out["b"].error
    assert out["b"].error_source == "media"

    # ref absent from the sidecar → unresolvable envelope
    assert out["c"].error is not None and "unresolvable" in out["c"].error
    assert out["c"].error_source == "ocr"

    # pure-text doc untouched, no payload map leaking into the output schema
    assert out["d"].error is None
    assert set(out["d"].asDict().keys()) == {
        "doc_id", "spans", "confidence", "extractor", "error", "error_source",
    }


def test_sidecar_giant_docs_match_synthetic(spark, tmp_path):
    """The sidecar works with every input, giant docs included: a doc with
    3,000 media spans and a 901-span doc whose last span has a null ref give
    the same spans, confidence and envelopes through binaryFile payloads as
    through the synthetic resolver."""
    from ocr_spark.fixtures import generate_docs, media_ref_for
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.schema import DOC_SCHEMA

    def media_doc(doc_id, n):
        return {
            "doc_id": doc_id,
            "spans": [
                {"kind": "media", "text": None, "media_ref": media_ref_for(doc_id, k),
                 "offset": k}
                for k in range(n)
            ],
        }

    bad = media_doc("giant-bad", 900)
    bad["spans"].append({"kind": "media", "text": None, "media_ref": None, "offset": 900})
    docs = generate_docs(12) + [media_doc("giant-0", 3000), bad]

    def fname(ref):
        return ref.replace("://", "_").replace("/", "_") + ".bin"

    refs = {s["media_ref"] for d in docs for s in d["spans"]
            if s["kind"] in ("ocr", "media") and s["media_ref"]}
    for ref in refs:
        (tmp_path / fname(ref)).write_bytes(synth_media_bytes(ref))
    sidecar = sidecar_df(spark, str(tmp_path) + "/*.bin")
    uri = {u.rsplit("/", 1)[-1]: u for u in (r.media_ref for r in sidecar.collect())}
    to_uri = {ref: uri[fname(ref)] for ref in refs}
    from_uri = {u: ref for ref, u in to_uri.items()}

    def with_uris(d):
        return {
            "doc_id": d["doc_id"],
            "spans": [dict(s, media_ref=to_uri.get(s["media_ref"], s["media_ref"]))
                      for s in d["spans"]],
        }

    rules = [["hte", "the"]]
    want = {
        r.doc_id: r
        for r in extract_documents(spark.createDataFrame(docs, DOC_SCHEMA), rules=rules)
        .collect()
    }
    got = {
        r.doc_id: r
        for r in extract_documents(
            spark.createDataFrame([with_uris(d) for d in docs], DOC_SCHEMA),
            rules=rules,
            salt_partitions=4,
            media_sidecar=sidecar,
        ).collect()
    }
    assert set(got) == set(want)
    for d, w in want.items():
        g = got[d]
        spans = [s.asDict() for s in g.spans]
        for s in spans:
            s["media_ref"] = from_uri.get(s["media_ref"], s["media_ref"])
        assert spans == [s.asDict() for s in w.spans], d
        if w.confidence is None:
            assert g.confidence is None, d
        else:
            assert abs(g.confidence - w.confidence) < 1e-9, d
        assert (g.error, g.error_source) == (w.error, w.error_source), d
    assert len(got["giant-0"].spans) == 3000 and got["giant-0"].error is None
    assert got["giant-0"].confidence > 0
    assert "unresolvable" in got["giant-bad"].error
    assert got["giant-bad"].error_source == "media"


def test_sidecar_duplicate_refs_tolerated(spark, payload_dir):
    """A ref duplicated in the sidecar (overlapping globs, unioned frames)
    must not blow up map_from_entries (review finding: 'Duplicate map key'
    killed the job)."""
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.schema import DOC_SCHEMA

    base = sidecar_df(spark, str(payload_dir) + "/*.bin")
    doubled = base.unionByName(base)  # every ref twice
    uri = [r.media_ref for r in base.collect() if r.media_ref.endswith("good1.bin")][0]
    docs = spark.createDataFrame(
        [("a", [("media", None, uri, 0)])], DOC_SCHEMA
    )
    out = extract_documents(docs, media_sidecar=doubled).collect()
    assert len(out) == 1 and out[0].error is None


def test_sidecar_png_payloads_end_to_end(spark, tmp_path):
    """REAL image files on disk: PNG payloads (any size) decode through the
    genuine codec inside the Arrow stage and feed the same kernel chain —
    the full S1 production path with an actual format, no stubs."""
    import numpy as np

    from ocr_spark.operators.cloud_engine import png_encode
    from ocr_spark.operators.media_kernels import (
        IMG_SIDE,
        recognize_gray_batch,
        to_grayscale,
    )
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.schema import DOC_SCHEMA
    from ocr_spark.sources.media import synth_media_batch

    d = tmp_path / "pngs"
    d.mkdir()
    # one native-size grayscale scan, one larger RGB image needing resize
    g32 = synth_media_batch(["png-a"])[0]
    (d / "scan32.png").write_bytes(png_encode(g32))
    rng = np.random.default_rng(55)
    big = rng.integers(0, 256, (48, 64, 3), np.uint8)
    (d / "photo.png").write_bytes(png_encode(big))

    sidecar = sidecar_df(spark, str(d) + "/*.png")
    uris = {r.media_ref.rsplit("/", 1)[-1]: r.media_ref for r in sidecar.collect()}
    docs = spark.createDataFrame(
        [
            ("a", [("media", None, uris["scan32.png"], 0)]),
            ("b", [("ocr", None, uris["photo.png"], 0)]),
        ],
        DOC_SCHEMA,
    )
    out = {
        r.doc_id: r
        for r in extract_documents(docs, media_sidecar=sidecar).collect()
    }
    assert out["a"].error is None and out["b"].error is None
    # doc a: decoded 32x32 gray == the original → same text as direct kernels
    texts, _ = recognize_gray_batch(g32[None])
    from ocr_spark.operators.dispatch import _postprocess_text

    assert out["a"].spans[0].text == _postprocess_text(texts[0], [])
    # doc b: RGB → gray → ASPECT-PRESERVING fit+pad to kernel size (the K6
    # geometry — not a distorting square resize), then recognized
    from ocr_spark.operators.dispatch import _fit_pad_gray

    g = _fit_pad_gray(to_grayscale(big), IMG_SIDE)
    assert g.shape == (IMG_SIDE, IMG_SIDE)
    # 48x64 → ratio 0.5 → content occupies 24 rows, zero-pad below
    assert (g[24:] == 0).all() and g[:24].any()
    texts_b, _ = recognize_gray_batch(g[None])
    assert out["b"].spans[0].text == _postprocess_text(texts_b[0], [])
