"""Unit tests for the heavy-kind operators (T8 html, K15/W3 pdf, media chain)
against the independent test-side implementations plus hand goldens."""

import json

import numpy as np
import pytest

from ocr_spark.operators import html_extract as HX
from ocr_spark.operators import media_kernels as MK
from ocr_spark.operators import pdf_layout as PL
from ocr_spark.sources.media import synth_media_bytes
from tests import reference_impl_heavy as RH

# --------------------------- HTML --------------------------------------------

MAIN_HTML = (
    "<html><body>"
    "<nav><a href='/'>Home</a> <a href='/x'>Products</a></nav>"
    "<div><p>This paragraph is the real main content of the page here.</p></div>"
    "<footer><a href='/tos'>Terms</a></footer>"
    "</body></html>"
)


def test_html_keeps_main_drops_boilerplate():
    out = HX.extract_main_text(MAIN_HTML)
    assert out == "This paragraph is the real main content of the page here."
    assert "Home" not in out and "Terms" not in out


def test_html_link_density_drop():
    html = "<body><p><a href='/'>all of this text is one giant link here</a></p></body>"
    assert HX.extract_main_text(html) == ""


def test_html_heading_kept():
    html = "<body><h1>Title</h1><p>Body paragraph with enough words to keep.</p></body>"
    out = HX.extract_main_text(html)
    assert out.splitlines() == ["Title", "Body paragraph with enough words to keep."]


def test_html_script_style_ignored():
    html = "<body><script>var x = 'not content at all here';</script><p>Real content words kept here ok.</p></body>"
    out = HX.extract_main_text(html)
    assert "var x" not in out and "Real content" in out


@pytest.mark.parametrize("i", range(3))
def test_html_matches_independent_impl_on_fixtures(i):
    from ocr_spark.fixtures import _HTML_TEMPLATES

    html = _HTML_TEMPLATES[i].replace("{i}", "7")
    assert HX.extract_main_text(html) == RH.html_extract(html)


def test_html_empty_and_garbage():
    assert HX.extract_main_text("") == ""
    assert HX.extract_main_text("<<<>>>") == RH.html_extract("<<<>>>")


# --------------------------- PDF ---------------------------------------------


def _page(blocks):
    return json.dumps({"page_w": 612, "page_h": 792, "blocks": blocks})


def test_pdf_two_column_reading_order():
    # two columns separated by an x-gap; reading order = whole left column,
    # then right column (classic XY-cut on a clean 2-col layout: the
    # horizontal cut fails (columns overlap vertically), vertical cut splits)
    blocks = [
        {"x": 320, "y": 50, "w": 250, "h": 700, "text": "R"},
        {"x": 40, "y": 50, "w": 250, "h": 700, "text": "L"},
    ]
    assert PL.extract_pdf_text(_page(blocks)) == "L\nR"


def test_pdf_rows_then_columns():
    # top full-width block, then a 2-col body → title first, then L, R
    blocks = [
        {"x": 320, "y": 200, "w": 250, "h": 400, "text": "right"},
        {"x": 40, "y": 50, "w": 530, "h": 100, "text": "title"},
        {"x": 40, "y": 200, "w": 250, "h": 400, "text": "left"},
    ]
    assert PL.extract_pdf_text(_page(blocks)) == "title\nleft\nright"


def test_pdf_matches_independent_impl_on_fixture_payloads():
    from ocr_spark.fixtures import generate_docs

    n = 0
    for d in generate_docs(60):
        for s in d["spans"]:
            if s["kind"] == "pdf":
                assert PL.extract_pdf_text(s["text"]) == RH.pdf_extract(s["text"])
                n += 1
    assert n > 10


def test_pdf_bad_payloads():
    assert PL.extract_pdf_text("") == ""
    assert PL.extract_pdf_text("not json") == ""
    assert PL.extract_pdf_text(json.dumps({"blocks": []})) == ""


# --------------------------- media kernels -----------------------------------


def test_otsu_matches_bruteforce():
    rng = np.random.default_rng(0)
    gray = rng.integers(0, 256, (32, 32), dtype=np.uint8)
    t = MK.otsu_threshold(gray)
    # brute force between-class variance maximization
    best_t, best_v = 0, -1.0
    g = gray.ravel().astype(np.float64)
    for cand in range(256):
        lo, hi = g[g <= cand], g[g > cand]
        if lo.size == 0 or hi.size == 0:
            v = 0.0
        else:
            w0, w1 = lo.size / g.size, hi.size / g.size
            v = w0 * w1 * (lo.mean() - hi.mean()) ** 2
        if v > best_v:
            best_v, best_t = v, cand
    assert abs(t - best_t) <= 1


def test_ctc_decode_blank_and_repeat_collapse():
    # charset 'ab', blank=2 — wait, use real CHARSET: indices 0='a',1='b'
    blank = len(MK.CHARSET)
    T_, C_ = 6, blank + 1
    logits = np.full((T_, C_), -10.0)
    # path: a a blank a b b  → "aab"
    for t, ci in enumerate([0, 0, blank, 0, 1, 1]):
        logits[t, ci] = 10.0
    text, conf = MK.ctc_greedy_decode(logits)
    assert text == "aab"
    assert conf > 0.99


def test_ctc_decode_empty():
    blank = len(MK.CHARSET)
    logits = np.full((4, blank + 1), -10.0)
    logits[:, blank] = 10.0
    text, conf = MK.ctc_greedy_decode(logits)
    assert text == "" and conf == 0.0


def test_assembly_semantics():
    from tests.reference_impl import assemble_result

    parts = [("good", 0.9), ("REC_FAIL", 0.5), ("Error: Rec Inference Failed", 0.7), ("ok", 0.7)]
    text, conf = assemble_result(parts)
    assert text == "good\nok"
    assert conf == pytest.approx(0.8)


def test_assembly_all_invalid():
    from tests.reference_impl import assemble_result

    text, conf = assemble_result([("REC_FAIL", 0.0)])
    assert text == "" and conf == 0.0


def test_recognize_image_deterministic_and_matches_independent():
    for k in range(25):
        ref = f"media://doc-test/{k:04d}"
        payload = synth_media_bytes(ref)
        got = MK.recognize_image(payload)
        again = MK.recognize_image(payload)
        assert got == again
        assert got == RH.media_recognize(payload)


def test_recognize_short_payload_raises():
    with pytest.raises(ValueError):
        MK.bytes_to_image(b"123")


def test_preprocess_pipeline_shapes():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (40, 30, 3), dtype=np.uint8)
    out = MK.preprocess_pipeline(img)
    assert out.shape == (40, 30)
    assert set(np.unique(out)).issubset({0, 255})
    with pytest.raises(ValueError):
        MK.preprocess_pipeline("nope")


def test_deskew_guards():
    # blank image → no foreground → angle 0 (reliability guard, F9)
    blank = np.full((32, 32), 255, dtype=np.uint8)
    assert MK.estimate_skew_angle(blank) == 0.0


def test_postprocess_array_matches_scalar():
    """Arrow-compute postprocess twin == Python scalar twin on media-shaped
    and adversarial strings (dispatch._postprocess_array contract)."""
    import pyarrow as pa

    from ocr_spark.operators.dispatch import _postprocess_array, _postprocess_text

    rules = [["hte", "the"], ["ab", "XY"]]
    samples = [
        "",
        "plain text",
        "a  b\t\tc",
        "line1\n\n\nline2",
        "\r\nleading\rmixed\r\n",
        "  padded  ",
        "hte quick hte",
        "abab",  # overlapping rule application order
        "multi\nline\n\n with  spaces \t",
        "\n\n\n",
        " \t ",
    ]
    # plus deterministic media outputs
    from ocr_spark.operators.media_kernels import recognize_gray_batch
    from ocr_spark.sources.media import synth_media_batch

    refs = [f"media://pp/{i}" for i in range(500)]
    texts, _ = recognize_gray_batch(synth_media_batch(refs))
    samples += texts

    got = _postprocess_array(pa.array(samples, type=pa.string()), rules).to_pylist()
    want = [_postprocess_text(s, rules) for s in samples]
    assert got == want


def test_recognize_batch_matches_scalar_on_random_images(monkeypatch):
    """Property check: the vectorized batch recognizer is bit-identical in
    text (and 1e-12-close in confidence) to the scalar chain over ARBITRARY
    uint8 images — not just the band-structured synthetic corpus. Includes
    degenerate all-dark / all-bright / striped / noise images. Repeated with
    a 10-letter CHARSET, whose column segments are 2-3 pixels wide instead
    of 1-2."""
    import numpy as np

    rng = np.random.default_rng(123)
    imgs = [
        np.zeros((32, 32), np.uint8),
        np.full((32, 32), 255, np.uint8),
        np.full((32, 32), 77, np.uint8),   # exactly at the F2 mask boundary
        np.full((32, 32), 76, np.uint8),   # just below it
        np.tile(np.array([0, 255], np.uint8), (32, 16)),  # vertical stripes
        np.repeat(np.arange(32, dtype=np.uint8)[:, None] * 8, 32, axis=1),  # gradient
    ]
    imgs += [rng.integers(0, 256, (32, 32), dtype=np.uint8) for _ in range(400)]
    # half-bright rows (band-like) with random noise rows interleaved
    for _ in range(100):
        im = rng.integers(0, 70, (32, 32), dtype=np.uint8)
        y = int(rng.integers(0, 25))
        h = int(rng.integers(1, 8))
        im[y : y + h] = rng.integers(140, 256, (min(h, 32 - y), 32), dtype=np.uint8)
        imgs.append(im)

    grays = np.stack(imgs)
    for charset in (MK.CHARSET, list("abcdefghij")):
        monkeypatch.setattr(MK, "CHARSET", charset)
        texts, confs = MK.recognize_gray_batch(grays)
        for i, im in enumerate(imgs):
            st, sc = MK.recognize_image(im.tobytes())
            assert texts[i] == st, (len(charset), i)
            assert abs(confs[i] - sc) < 1e-12, (len(charset), i)


def test_synth_media_batch_bytes_pinned():
    """The synthetic scans behind every media golden, pinned byte for byte:
    1,000 refs span several 128-ref chunks and end in a partial one."""
    import hashlib

    from ocr_spark.sources.media import synth_media_batch

    grays = synth_media_batch([f"pin://{i}" for i in range(1000)])
    assert grays.shape == (1000, 32, 32) and grays.dtype == np.uint8
    assert hashlib.sha256(grays.tobytes()).hexdigest() == (
        "8ad5e06eda2c672deb52026fc667349ea0000dbb5b2996291fefb1fcbb281392"
    )
