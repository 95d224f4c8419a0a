"""Cloud-engine analogue tests: K13 PNG encode, K14 response flatten, A3
first-page confidence, Spark-native flatten parity, e2e dispatch.

Golden semantics from ref ocr_components/google_ocr_engine.py:77-87 (PNG),
:149-211 (flatten: symbol-join word text, vertex-less-word skip, F11
denorm+clip with int truncation, pages[0].confidence)."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from ocr_spark.operators.cloud_engine import (
    fake_cloud_response,
    flatten_response,
    flatten_response_df,
    png_encode,
    recognize_cloud_batch,
)


# ---------------------------------------------------------------------------
# K13: PNG encode
# ---------------------------------------------------------------------------


def _parse_png(data: bytes):
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    pos, chunks = 8, []
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        assert crc == zlib.crc32(tag + payload) & 0xFFFFFFFF, f"bad CRC in {tag}"
        chunks.append((tag, payload))
        pos += 12 + length
    return chunks


def test_png_grayscale_roundtrip():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(24, 17), dtype=np.uint8)
    chunks = _parse_png(png_encode(img))
    assert [t for t, _ in chunks] == [b"IHDR", b"IDAT", b"IEND"]
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", chunks[0][1]
    )
    assert (w, h, depth, color, comp, filt, interlace) == (17, 24, 8, 0, 0, 0, 0)
    raw = zlib.decompress(chunks[1][1])
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(24, 18)
    assert (rows[:, 0] == 0).all()  # filter byte 0 per scanline
    np.testing.assert_array_equal(rows[:, 1:], img)


def test_png_rgb_roundtrip():
    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    chunks = _parse_png(png_encode(img))
    w, h, depth, color = struct.unpack(">IIBB", chunks[0][1][:10])
    assert (w, h, depth, color) == (7, 5, 8, 2)
    raw = zlib.decompress(chunks[1][1])
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(5, 22)
    np.testing.assert_array_equal(rows[:, 1:].reshape(5, 7, 3), img)


def test_png_rejects_bad_input():
    with pytest.raises(ValueError):
        png_encode(np.zeros((4, 4), dtype=np.float32))
    with pytest.raises(ValueError):
        png_encode(np.zeros((4, 4, 4), dtype=np.uint8))


# ---------------------------------------------------------------------------
# K14: flatten golden (hand-built response, hand-computed expectations)
# ---------------------------------------------------------------------------

GOLDEN_RESP = {
    "text": "hello big world\nskipped here",
    "pages": [
        {
            "confidence": 0.91,
            "blocks": [
                {
                    "paragraphs": [
                        {
                            "words": [
                                {  # normal word
                                    "symbols": [{"text": c} for c in "hello"],
                                    "vertices": [
                                        {"x": 0.10, "y": 0.20},
                                        {"x": 0.30, "y": 0.20},
                                        {"x": 0.30, "y": 0.25},
                                        {"x": 0.10, "y": 0.25},
                                    ],
                                    "confidence": 0.8,
                                },
                                {  # overshooting vertices → clipped to image
                                    "symbols": [{"text": c} for c in "big"],
                                    "vertices": [
                                        {"x": -0.05, "y": 0.9},
                                        {"x": 1.20, "y": 1.10},
                                    ],
                                    "confidence": 0.5,
                                },
                                {  # vertex-less → skipped (ref :162-164)
                                    "symbols": [{"text": c} for c in "world"],
                                    "vertices": [],
                                    "confidence": 0.99,
                                },
                            ]
                        }
                    ]
                }
            ],
        },
        {  # second page: its confidence must NOT become the overall (A3)
            "confidence": 0.11,
            "blocks": [
                {
                    "paragraphs": [
                        {
                            "words": [
                                {
                                    "symbols": [{"text": c} for c in "here"],
                                    "vertices": [{"x": 0.5, "y": 0.5}],
                                    "confidence": 0.7,
                                }
                            ]
                        }
                    ]
                }
            ],
        },
    ],
}


def test_flatten_golden():
    full_text, segments, overall = flatten_response(GOLDEN_RESP, 200, 100)
    assert full_text == "hello big world\nskipped here"
    assert overall == 0.91  # pages[0].confidence — first value, not a mean
    assert [s["text"] for s in segments] == ["hello", "big", "here"]
    # hello: [0.1,0.2,0.3,0.25] × (200,100) → [20,20,60,25]
    assert segments[0]["bounding_box"] == [20, 20, 60, 25]
    # big: min x = -10 → int→-10 → clamp 0; max x = 240 → clamp 200;
    #      min y = 90; max y = 110 → clamp 100
    assert segments[1]["bounding_box"] == [0, 90, 200, 100]
    assert segments[2]["bounding_box"] == [100, 50, 100, 50]
    assert [s["confidence"] for s in segments] == [0.8, 0.5, 0.7]


def test_flatten_empty_response():
    assert flatten_response({}, 10, 10) == ("", [], 0.0)
    assert flatten_response({"text": "x", "pages": []}, 10, 10) == ("x", [], 0.0)


# ---------------------------------------------------------------------------
# fake API determinism + batch kernel
# ---------------------------------------------------------------------------


def _gray(seed: int) -> np.ndarray:
    from ocr_spark.sources.media import synth_media_batch

    return synth_media_batch([f"m{seed}"])[0]


def test_fake_response_deterministic_and_structured():
    g = _gray(3)
    r1, r2 = fake_cloud_response(g), fake_cloud_response(g.copy())
    assert r1 == r2
    assert r1["pages"] and 0.0 <= r1["pages"][0]["confidence"] <= 1.0
    # bright bands in the synthetic scan → at least one block of words
    words = r1["pages"][0]["blocks"][0]["paragraphs"][0]["words"]
    assert words and all(w["symbols"] for w in words)
    # full_text includes every word, even vertex-less ones (annotation text)
    n_words = sum(
        len(p["words"])
        for b in r1["pages"][0]["blocks"]
        for p in b["paragraphs"]
    )
    assert len(r1["text"].split()) == n_words


def test_recognize_cloud_batch_matches_scalar_path():
    grays = np.stack([_gray(i) for i in range(8)])
    texts, confs = recognize_cloud_batch(grays)
    assert len(texts) == 8 and confs.shape == (8,)
    for i in range(8):
        resp = fake_cloud_response(grays[i])
        ft, _, ov = flatten_response(resp, 32, 32)
        assert texts[i] == ft
        assert confs[i] == ov


# ---------------------------------------------------------------------------
# Spark-native flatten ≡ python flatten on the same nested fixture
# ---------------------------------------------------------------------------


def test_flatten_response_df_matches_python(spark):
    img_w, img_h = 200, 100
    rows = [("d0", GOLDEN_RESP), ("d1", fake_cloud_response(_gray(5)))]
    schema = (
        "doc_id string, response struct<text:string, pages:array<struct<"
        "confidence:double, blocks:array<struct<paragraphs:array<struct<"
        "words:array<struct<symbols:array<struct<text:string>>, "
        "vertices:array<struct<x:double,y:double>>, confidence:double"
        ">>>>>>>>>"
    )
    df = spark.createDataFrame(rows, schema=schema)
    got = flatten_response_df(df, img_w=img_w, img_h=img_h)
    got_rows = {
        (r.doc_id, r.page, r.block, r.para, r.word): r
        for r in got.collect()
    }
    for doc_id, resp in rows:
        _ft, segments, overall = flatten_response(resp, img_w, img_h)
        # reconstruct positional indexes the same way the posexplode does
        idx = 0
        for pi, page in enumerate(resp.get("pages") or []):
            for bi, block in enumerate(page.get("blocks") or []):
                for qi, para in enumerate(block.get("paragraphs") or []):
                    for wi, word in enumerate(para.get("words") or []):
                        if not (word.get("vertices") or []):
                            continue
                        r = got_rows[(doc_id, pi, bi, qi, wi)]
                        seg = segments[idx]
                        idx += 1
                        assert r.word_text == seg["text"]
                        assert [r.x1, r.y1, r.x2, r.y2] == seg["bounding_box"]
                        assert r.word_conf == seg["confidence"]
                        assert r.overall_conf == overall
        assert idx == len(segments)
    assert len(got_rows) == sum(
        len(flatten_response(resp, img_w, img_h)[1]) for _, resp in rows
    )


# ---------------------------------------------------------------------------
# e2e: media_engine='cloud' through the full pipeline
# ---------------------------------------------------------------------------


def test_extract_documents_cloud_engine(spark):
    from ocr_spark.fixtures import generate_docs
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.schema import DOC_SCHEMA

    docs = spark.createDataFrame(generate_docs(40), DOC_SCHEMA)
    out = extract_documents(docs, rules=[["hte", "the"]], media_engine="cloud")
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 40
    # docs with media spans get the cloud A3 confidence; reruns identical
    rows2 = {r.doc_id: r for r in extract_documents(
        docs, rules=[["hte", "the"]], media_engine="cloud"
    ).collect()}
    assert rows == rows2
    # cloud and local engines disagree on media text (different engines)
    local = {r.doc_id: r for r in extract_documents(
        docs, rules=[["hte", "the"]], media_engine="local"
    ).collect()}
    media_docs = [
        d for d, r in rows.items()
        if any(s.kind in ("ocr", "media") for s in r.spans)
    ]
    assert media_docs, "fixture corpus should contain media spans"
    assert any(rows[d].spans != local[d].spans for d in media_docs)
    # non-media docs are engine-independent
    for d, r in rows.items():
        if d not in media_docs:
            assert r == local[d]


def test_unknown_media_engine_raises(spark):
    from ocr_spark.fixtures import generate_docs
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.schema import DOC_SCHEMA

    # rejected while the plan is built, before any task runs
    docs = spark.createDataFrame(generate_docs(4), DOC_SCHEMA)
    with pytest.raises(ValueError, match="unknown media_engine"):
        extract_documents(docs, media_engine="nope")


def test_cloud_registry_impl():
    from ocr_spark.operators.registry import get_extractor

    fn = get_extractor("cloud")
    t1, t2 = fn("media/abc"), fn("media/abc")
    assert t1 == t2 and isinstance(t1, str)
    with pytest.raises(ValueError):
        fn("")


def test_flatten_negative_max_parity(spark):
    """int() truncates toward zero while floor() rounds down: a word whose
    denormalized max coordinate is negative exposed a Spark/scalar
    divergence (review finding). Both paths must agree."""
    resp = {
        "text": "neg",
        "pages": [
            {
                "confidence": 0.5,
                "blocks": [
                    {
                        "paragraphs": [
                            {
                                "words": [
                                    {
                                        "symbols": [{"text": "n"}],
                                        "vertices": [
                                            {"x": -0.9, "y": -0.8},
                                            {"x": -0.0025, "y": -0.005},
                                        ],
                                        "confidence": 0.4,
                                    }
                                ]
                            }
                        ]
                    }
                ],
            }
        ],
    }
    img_w, img_h = 200, 100
    _ft, segments, _ov = flatten_response(resp, img_w, img_h)
    # max x = -0.5 → int() = 0 → min(200, 0) = 0 (NOT -1)
    assert segments[0]["bounding_box"] == [0, 0, 0, 0]
    schema = (
        "doc_id string, response struct<text:string, pages:array<struct<"
        "confidence:double, blocks:array<struct<paragraphs:array<struct<"
        "words:array<struct<symbols:array<struct<text:string>>, "
        "vertices:array<struct<x:double,y:double>>, confidence:double"
        ">>>>>>>>>"
    )
    df = spark.createDataFrame([("d", resp)], schema=schema)
    row = flatten_response_df(df, img_w=img_w, img_h=img_h).collect()[0]
    assert [row.x1, row.y1, row.x2, row.y2] == segments[0]["bounding_box"]


# ---------------------------------------------------------------------------
# PNG decode (the real codec)
# ---------------------------------------------------------------------------


def _build_png(img: np.ndarray, filters: list[int]) -> bytes:
    """Hand-build a PNG applying the GIVEN filter type per scanline (the
    encoder only emits filter 0, so decode of types 1-4 needs a custom
    stream)."""
    if img.ndim == 2:
        color, chans = 0, 1
        flat = img[:, :, None]
    else:
        color, chans = 2, img.shape[2]
        flat = img
    h, w = img.shape[:2]
    stride = w * chans
    rows = flat.reshape(h, stride).astype(np.int64)
    out = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        ft = filters[y % len(filters)]
        cur = rows[y]
        filt = np.empty(stride, dtype=np.int64)
        for x in range(stride):
            a = cur[x - chans] if x >= chans else 0
            b = prev[x]
            c = prev[x - chans] if x >= chans else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            filt[x] = (cur[x] - pred) & 0xFF
        out.append(ft)
        out.extend(int(v) for v in filt)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(out)))
        + chunk(b"IEND", b"")
    )


def test_png_decode_roundtrip_encoder():
    from ocr_spark.operators.cloud_engine import png_decode

    rng = np.random.default_rng(41)
    gray = rng.integers(0, 256, (13, 9), np.uint8)
    np.testing.assert_array_equal(png_decode(png_encode(gray)), gray)
    rgb = rng.integers(0, 256, (7, 5, 3), np.uint8)
    np.testing.assert_array_equal(png_decode(png_encode(rgb)), rgb)


@pytest.mark.parametrize("filters", [[1], [2], [3], [4], [0, 1, 2, 3, 4]])
def test_png_decode_all_filter_types(filters):
    from ocr_spark.operators.cloud_engine import png_decode

    rng = np.random.default_rng(sum(filters) + 7)
    gray = rng.integers(0, 256, (10, 12), np.uint8)
    np.testing.assert_array_equal(png_decode(_build_png(gray, filters)), gray)
    rgb = rng.integers(0, 256, (6, 4, 3), np.uint8)
    np.testing.assert_array_equal(png_decode(_build_png(rgb, filters)), rgb)


def test_png_decode_rejects_garbage():
    from ocr_spark.operators.cloud_engine import png_decode

    with pytest.raises(ValueError):
        png_decode(b"not a png at all")
    # truncated IDAT → zlib or length error
    good = png_encode(np.zeros((4, 4), np.uint8))
    with pytest.raises(Exception):
        png_decode(good[:30])


def test_decode_image_png_autodetect():
    from ocr_spark.operators.multimodal import decode_image

    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    got = decode_image(png_encode(img))  # signature-sniffed, codec default
    np.testing.assert_array_equal(got, img)


def test_png_decode_bounded_against_oversized_stream():
    """A crafted IDAT that decompresses past the declared image (zlib-bomb
    shape) must be rejected without materializing the excess."""
    from ocr_spark.operators.cloud_engine import png_decode

    img = np.zeros((4, 4), np.uint8)
    good = png_encode(img)
    # rebuild with an IDAT containing far more data than 4x(16+1) bytes
    chunks = _parse_png(good)
    ihdr = chunks[0][1]
    bomb = zlib.compress(b"\x00" * 100_000, 9)  # ~100 bytes compressed

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    evil = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb)
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        png_decode(evil)


def test_png_decode_multi_idat_chunks():
    """IDAT split across many small chunks (the common libpng layout) must
    reassemble correctly (list-join, not O(n^2) concat)."""
    from ocr_spark.operators.cloud_engine import png_decode

    rng = np.random.default_rng(61)
    img = rng.integers(0, 256, (16, 16), np.uint8)
    data = png_encode(img)
    chunks = _parse_png(data)
    idat = [p for t, p in chunks if t == b"IDAT"][0]

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    rebuilt = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", chunks[0][1])
    for i in range(0, len(idat), 7):
        rebuilt += chunk(b"IDAT", idat[i : i + 7])
    rebuilt += chunk(b"IEND", b"")
    np.testing.assert_array_equal(png_decode(rebuilt), img)


# ---------------------------------------------------------------------------
# Round-5: palette (PLTE), sub-8-bit, and 16-bit PNG support
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("depth", [1, 2, 4])
@pytest.mark.parametrize("interlace", [False, True])
def test_png_sub8_gray_roundtrip(depth, interlace):
    """Raw d-bit gray samples scale to full 8-bit range (255/(2^d-1) is an
    integer for d in 1/2/4, so the scaling is exact)."""
    from ocr_spark.operators.cloud_engine import png_decode

    rng = np.random.default_rng(depth * 100 + interlace)
    v = rng.integers(0, 1 << depth, (11, 23), np.uint8)
    out = png_decode(png_encode(v, interlace=interlace, bit_depth=depth))
    np.testing.assert_array_equal(out, v * (255 // ((1 << depth) - 1)))


@pytest.mark.parametrize("depth", [1, 2, 4, 8])
@pytest.mark.parametrize("interlace", [False, True])
def test_png_palette_roundtrip(depth, interlace):
    from ocr_spark.operators.cloud_engine import png_decode

    rng = np.random.default_rng(depth * 10 + interlace)
    n = 1 << depth
    pal = rng.integers(0, 256, (n, 3), np.uint8)
    idx = rng.integers(0, n, (10, 19), np.uint8)
    out = png_decode(
        png_encode(idx, interlace=interlace, bit_depth=depth, palette=pal)
    )
    np.testing.assert_array_equal(out, pal[idx])


@pytest.mark.parametrize("interlace", [False, True])
def test_png_16bit_roundtrip(interlace):
    """16-bit samples written as v*257 reduce back to v via the high byte."""
    from ocr_spark.operators.cloud_engine import png_decode

    rng = np.random.default_rng(16 + interlace)
    g = rng.integers(0, 256, (7, 12), np.uint8)
    np.testing.assert_array_equal(
        png_decode(png_encode(g, interlace=interlace, bit_depth=16)), g
    )
    c = rng.integers(0, 256, (6, 4, 3), np.uint8)
    np.testing.assert_array_equal(
        png_decode(png_encode(c, interlace=interlace, bit_depth=16)), c
    )


def _filter_rows(body: np.ndarray, bpp: int, filters: list[int]) -> bytes:
    """Independent spec-side scanline filterer (any bpp) for decoder tests."""
    h, stride = body.shape
    out = bytearray()
    prev = np.zeros(stride, np.int64)
    for y in range(h):
        raw = body[y].astype(np.int64)
        ft = filters[y % len(filters)]
        left = np.concatenate([np.zeros(bpp, np.int64), raw[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, np.int64), prev[:-bpp]])
        if ft == 0:
            enc = raw
        elif ft == 1:
            enc = raw - left
        elif ft == 2:
            enc = raw - prev
        elif ft == 3:
            enc = raw - ((left + prev) >> 1)
        else:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            enc = raw - pred
        out.append(ft)
        out.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prev = raw
    return bytes(out)


@pytest.mark.parametrize("filters", [[1], [2], [3], [4], [0, 1, 2, 3, 4]])
def test_png_16bit_all_filter_types(filters):
    """Filters at bpp=2 (16-bit gray) and bpp=6 (16-bit RGB) — the byte-lane
    distance the 8-bit tests never exercise."""
    from ocr_spark.operators.cloud_engine import png_decode

    rng = np.random.default_rng(sum(filters) + 160)
    for ch, color_type in ((1, 0), (3, 2)):
        h, w = 9, 7
        vals = rng.integers(0, 65536, (h, w * ch), np.uint16)
        body = (
            np.stack([(vals >> 8) & 0xFF, vals & 0xFF], axis=-1)
            .reshape(h, w * ch * 2)
            .astype(np.uint8)
        )
        scan = _filter_rows(body, ch * 2, filters)
        ihdr = struct.pack(">IIBBBBB", w, h, 16, color_type, 0, 0, 0)

        def chunk(tag, payload):
            return (
                struct.pack(">I", len(payload))
                + tag
                + payload
                + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
            )

        png = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(scan))
            + chunk(b"IEND", b"")
        )
        got = png_decode(png)
        want = (vals >> 8).astype(np.uint8).reshape(h, w, ch)
        if ch == 1:
            want = want[:, :, 0]
        np.testing.assert_array_equal(got, want)


def test_png_palette_error_envelopes():
    from ocr_spark.operators.cloud_engine import png_decode

    pal = np.zeros((4, 3), np.uint8)
    data = png_encode(np.zeros((2, 2), np.uint8), bit_depth=2, palette=pal)
    # strip the PLTE chunk → named error
    pos, parts = 8, [data[:8]]
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        if data[pos + 4 : pos + 8] != b"PLTE":
            parts.append(data[pos : pos + 12 + ln])
        pos += 12 + ln
    with pytest.raises(ValueError, match="PLTE"):
        png_decode(b"".join(parts))
    # out-of-range index: rebuild a depth-8 palette PNG whose index exceeds
    # the 4-entry palette
    big = png_encode(np.full((2, 2), 9, np.uint8), bit_depth=8, palette=np.zeros((10, 3), np.uint8))
    pos, parts = 8, [big[:8]]
    while pos + 8 <= len(big):
        (ln,) = struct.unpack(">I", big[pos : pos + 4])
        tag = big[pos + 4 : pos + 8]
        if tag == b"PLTE":
            payload = big[pos + 8 : pos + 8 + ln][:12]  # shrink to 4 entries
            parts.append(
                struct.pack(">I", len(payload))
                + b"PLTE"
                + payload
                + struct.pack(">I", zlib.crc32(b"PLTE" + payload) & 0xFFFFFFFF)
            )
        else:
            parts.append(big[pos : pos + 12 + ln])
        pos += 12 + ln
    with pytest.raises(ValueError, match="index"):
        png_decode(b"".join(parts))
    # invalid combo: palette at depth 16 is not a legal IHDR
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", b"\x00" * 12)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported PNG"):
        png_decode(bad)


def test_png_palette_flows_through_decode_image():
    """Indexed PNG reaches the multimodal sniffing path unchanged."""
    from ocr_spark.operators.multimodal import decode_image

    pal = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    idx = np.tile(np.arange(4, dtype=np.uint8), (4, 2))
    got = decode_image(png_encode(idx, bit_depth=2, palette=pal))
    np.testing.assert_array_equal(got, pal[idx])
