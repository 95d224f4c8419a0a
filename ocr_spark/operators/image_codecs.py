"""Pure stdlib/numpy image codecs (no PIL/cv2 in the container; S1 media
scan must still ingest real web formats — ref ocr_workflow_orchestrator.py:153-178
loads any PIL-supported file; OCR-X_Component_Breakdown_OptionB.md:11-18
lists TIFF/BMP/JPG/PNG as required inputs; PNG lives in cloud_engine.py).

All codecs implement the published file formats from their public specs:

  * JPEG — baseline sequential DCT (ITU-T T.81): DQT/SOF0/DHT/SOS parsing,
    canonical Huffman, zigzag dequant, vectorized 8×8 IDCT, 4:4:4 and 4:2:0
    chroma, restart markers; encoder with the Annex-K example tables.
  * BMP — BITMAPINFOHEADER, 24-bit BGR and 8-bit paletted, bottom-up rows,
    4-byte row padding.
  * TIFF — II/MM byte orders, strips, gray + RGB; compressions: none,
    LZW (+Predictor 2), PackBits, Deflate (8/32946), CCITT G3/G4 fax
    (2/3/4 via fax_codec), new-style JPEG (7, incl. JPEGTables).
  * GIF — 87a/89a: LZW decompression, global/local palettes, multiple
    frames, GCE/extension skipping; encoder with real LZW compression.

Decoders return uint8 (H,W) grayscale or (H,W,3) RGB; gif_decode_frames
returns a list of frames. Every parser fails with ValueError on corrupt
input (never hangs) — the dispatch stage degrades those to per-doc error
envelopes."""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# shared 8x8 DCT machinery
# ---------------------------------------------------------------------------

_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)


def _dct_matrix() -> np.ndarray:
    n = np.arange(8)
    c = np.where(n == 0, np.sqrt(1.0 / 8.0), np.sqrt(2.0 / 8.0))
    return c[:, None] * np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16.0)


_DCT = _dct_matrix()

# ITU-T T.81 Annex K example tables (public spec constants)
_STD_LUMA_Q = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_STD_CHROMA_Q = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# (bits-per-length[1..16], symbols) — Annex K
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
     0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
     0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
     0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
     0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
     0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
     0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
     0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
     0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
     0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
     0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
     0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
     0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
     0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
     0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
     0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
     0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
     0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
     0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
     0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
     0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
     0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
     0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)


def _canonical_codes(counts: list[int], symbols: list[int]):
    """(length, code) → symbol decode map AND symbol → (code, length) encode
    map for a canonical JPEG Huffman table."""
    dec: dict[tuple[int, int], int] = {}
    enc: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            sym = symbols[k]
            dec[(length, code)] = sym
            enc[sym] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return dec, enc


class _BitReader:
    """MSB-first bit reader over already de-stuffed entropy bytes."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy stream truncated")
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_huffman(self, dec: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = dec.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, n: int) -> int:
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


def _ycbcr_to_rgb(y, cb, cr):
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=2).round(), 0, 255).astype(np.uint8)


def jpeg_decode(data: bytes) -> np.ndarray:
    """JPEG → uint8 (H,W) gray or (H,W,3) RGB. Baseline sequential
    (SOF0/1) and progressive (SOF2: spectral selection + successive
    approximation per T.81 Annex G — the dominant real-web encoding,
    VERDICT r3 #3; ref loads any PIL format,
    ocr_workflow_orchestrator.py:153-178). Malformed input raises
    ValueError only (corrupt entropy data can blow the DC predictor past
    C-long range or slice past buffers — converted here)."""
    try:
        return _jpeg_decode_inner(data)
    except (struct.error, IndexError, MemoryError, OverflowError) as e:
        raise ValueError(f"corrupt JPEG: {type(e).__name__}: {e}") from None


def _jpeg_decode_inner(data: bytes) -> np.ndarray:
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode map
    frame = None
    progressive = False
    restart_interval = 0
    planes = None  # progressive: per-component coefficient planes across scans
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if progressive and planes is not None:
                return _jpeg_reconstruct(frame, planes, qt)
            raise ValueError("JPEG EOI before SOS")
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq:
                    tbl = np.frombuffer(seg[p : p + 128], dtype=">u2").astype(np.int64)
                    p += 128
                else:
                    tbl = np.frombuffer(seg[p : p + 64], dtype=np.uint8).astype(np.int64)
                    p += 64
                q = np.zeros(64, dtype=np.int64)
                q[_ZIGZAG] = tbl
                qt[tq] = q
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                counts = list(seg[p + 1 : p + 17])
                nsym = sum(counts)
                syms = list(seg[p + 17 : p + 17 + nsym])
                huff[(tc, th)] = _canonical_codes(counts, syms)[0]
                p += 17 + nsym
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec, h, w, nc = seg[0], struct.unpack(">H", seg[1:3])[0], struct.unpack(">H", seg[3:5])[0], seg[5]
            if prec != 8:
                raise ValueError(f"unsupported JPEG precision {prec}")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i], seg[7 + 3 * i], seg[8 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG coding process (baseline and progressive "
                "Huffman only)"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[0:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tds = seg[1 + 2 * i], seg[2 + 2 * i]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append({**comp, "dc": tds >> 4, "ac": tds & 15})
            pos += seglen
            if not progressive:
                return _jpeg_decode_scan(data, pos, frame, scan, qt, huff, restart_interval)
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            if planes is None:
                planes = _alloc_planes(frame)
            pos = _jpeg_progressive_scan(
                data, pos, frame, scan, huff, restart_interval, planes,
                ss, se, ahal >> 4, ahal & 15,
            )
            continue
        pos += seglen
    if progressive and planes is not None:  # EOI missing but scans decoded
        return _jpeg_reconstruct(frame, planes, qt)
    raise ValueError("JPEG has no SOS segment")


def _mcu_geometry(frame):
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcus_x = -(-frame["w"] // (8 * hmax))
    mcus_y = -(-frame["h"] // (8 * vmax))
    return hmax, vmax, mcus_x, mcus_y


def _alloc_planes(frame):
    _, _, mcus_x, mcus_y = _mcu_geometry(frame)
    return {
        c["id"]: np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int64)
        for c in frame["comps"]
    }


def _destuff_entropy(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """De-stuff entropy bytes starting at `pos`, splitting at RSTn markers.
    Returns (segments, index of the 0xFF of the next real marker)."""
    segments: list[bytearray] = [bytearray()]
    i = pos
    n = len(data)
    while i < n:
        b = data[i]
        if b == 0xFF:
            m = data[i + 1] if i + 1 < n else 0xD9
            if m == 0x00:
                segments[-1].append(0xFF)
                i += 2
                continue
            if 0xD0 <= m <= 0xD7:  # RSTn
                segments.append(bytearray())
                i += 2
                continue
            break  # EOI or next marker
        segments[-1].append(b)
        i += 1
    return [bytes(s) for s in segments], i


def _jpeg_decode_scan(data, pos, frame, scan, qt, huff, restart_interval):
    segments, _ = _destuff_entropy(data, pos)
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    n_mcus = mcus_x * mcus_y
    # per-component coefficient planes in block units
    planes = {}
    for c in scan:
        bw, bh = mcus_x * c["h"], mcus_y * c["v"]
        planes[c["id"]] = np.zeros((bh, bw, 64), dtype=np.int64)
    pred = {c["id"]: 0 for c in scan}

    seg_idx = 0
    reader = _BitReader(bytes(segments[seg_idx]))
    for mcu in range(n_mcus):
        if restart_interval and mcu and mcu % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG missing restart segment")
            reader = _BitReader(bytes(segments[seg_idx]))
            pred = {c["id"]: 0 for c in scan}
        my, mx = divmod(mcu, mcus_x)
        for c in scan:
            dc_dec = huff.get((0, c["dc"]))
            ac_dec = huff.get((1, c["ac"]))
            if dc_dec is None or ac_dec is None:
                raise ValueError("JPEG scan references undefined Huffman table")
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    coef = np.zeros(64, dtype=np.int64)
                    t = reader.read_huffman(dc_dec)
                    diff = _extend(reader.read_bits(t), t)
                    pred[c["id"]] += diff
                    coef[0] = pred[c["id"]]
                    k = 1
                    while k < 64:
                        rs = reader.read_huffman(ac_dec)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC run overflow")
                        coef[_ZIGZAG[k]] = _extend(reader.read_bits(s), s)
                        k += 1
                    planes[c["id"]][my * c["v"] + by, mx * c["h"] + bx] = coef

    return _jpeg_reconstruct(frame, planes, qt)


def _jpeg_reconstruct(frame, planes, qt):
    """Dequant + vectorized IDCT per component, upsample, crop, colorspace."""
    h, w = frame["h"], frame["w"]
    hmax, vmax, _, _ = _mcu_geometry(frame)
    out_planes = []
    for c in frame["comps"]:
        q = qt.get(c["tq"])
        if q is None:
            raise ValueError("JPEG scan references undefined quant table")
        blocks = planes[c["id"]]
        bh, bw = blocks.shape[:2]
        deq = (blocks * q[None, None, :]).reshape(bh, bw, 8, 8).astype(np.float64)
        spatial = np.einsum("ij,abjk,kl->abil", _DCT.T, deq, _DCT) + 128.0
        plane = spatial.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        # upsample to full resolution (sample replication), then crop
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        out_planes.append(plane[:h, :w])
    if len(out_planes) == 1:
        return np.clip(out_planes[0].round(), 0, 255).astype(np.uint8)
    if len(out_planes) == 3:
        return _ycbcr_to_rgb(*out_planes)
    raise ValueError(f"unsupported JPEG component count {len(out_planes)}")


def _jpeg_progressive_scan(
    data, pos, frame, scan, huff, restart_interval, planes, ss, se, ah, al
):
    """Decode ONE progressive scan into the persistent coefficient planes
    (T.81 Annex G / the libjpeg decode_mcu_{DC,AC}_{first,refine} quartet):
    DC scans are interleaved over MCUs, AC scans are single-component over
    that component's non-padded block grid; Ah==0 scans place coefficients
    scaled by 2^Al, Ah>0 scans add one correction bit at 2^Al. Returns the
    offset of the next marker."""
    segments, next_pos = _destuff_entropy(data, pos)
    hmax, vmax, mcus_x, mcus_y = _mcu_geometry(frame)
    dc_scan = ss == 0
    if dc_scan and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if not dc_scan and len(scan) != 1:
        raise ValueError("progressive AC scan must be single-component")
    zz = _ZIGZAG

    seg_idx = 0
    reader = _BitReader(segments[0])
    eobrun = 0
    pred = {c["id"]: 0 for c in scan}

    def restart(unit):
        nonlocal seg_idx, reader, eobrun, pred
        if restart_interval and unit and unit % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("JPEG missing restart segment")
            reader = _BitReader(segments[seg_idx])
            eobrun = 0
            pred = {c["id"]: 0 for c in scan}

    if dc_scan:
        dc_decs = {}
        for c in scan:
            if ah == 0:
                dec = huff.get((0, c["dc"]))
                if dec is None:
                    raise ValueError("JPEG scan references undefined Huffman table")
                dc_decs[c["id"]] = dec

        def dc_block(c, coef):
            if ah == 0:  # DC first
                t = reader.read_huffman(dc_decs[c["id"]])
                pred[c["id"]] += _extend(reader.read_bits(t), t)
                coef[0] = pred[c["id"]] << al
            elif reader.read_bit():  # DC refinement: one bit per block
                coef[0] |= 1 << al

        if len(scan) == 1 and len(frame["comps"]) > 1:
            # non-interleaved DC scan: component block grid, not MCU grid
            c = scan[0]
            comp_w = -(-frame["w"] * c["h"] // hmax)
            comp_h = -(-frame["h"] * c["v"] // vmax)
            bw, bh = -(-comp_w // 8), -(-comp_h // 8)
            for blk in range(bw * bh):
                restart(blk)
                by, bx = divmod(blk, bw)
                dc_block(c, planes[c["id"]][by, bx])
            return next_pos
        for mcu in range(mcus_x * mcus_y):
            restart(mcu)
            my, mx = divmod(mcu, mcus_x)
            for c in scan:
                plane = planes[c["id"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        dc_block(c, plane[my * c["v"] + by, mx * c["h"] + bx])
        return next_pos

    c = scan[0]
    ac_dec = huff.get((1, c["ac"]))
    if ac_dec is None:
        raise ValueError("JPEG scan references undefined Huffman table")
    # non-interleaved scans cover the component's ceil(dim/8) block grid,
    # NOT the MCU-padded grid (T.81 A.2.2)
    comp_w = -(-frame["w"] * c["h"] // hmax)
    comp_h = -(-frame["h"] * c["v"] // vmax)
    bw, bh = -(-comp_w // 8), -(-comp_h // 8)
    plane = planes[c["id"]]
    p1, m1 = 1 << al, -1 << al
    for blk in range(bw * bh):
        restart(blk)
        by, bx = divmod(blk, bw)
        coef = plane[by, bx]
        if ah == 0:  # AC first (G.1.2.2)
            if eobrun > 0:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = reader.read_huffman(ac_dec)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r != 15:
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += reader.read_bits(r)
                        break
                    k += 16
                    continue
                k += r
                if k > se:
                    raise ValueError("JPEG AC run overflow")
                coef[zz[k]] = _extend(reader.read_bits(s), s) << al
                k += 1
        else:  # AC refinement (G.1.2.3)
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = reader.read_huffman(ac_dec)
                    r, s = rs >> 4, rs & 15
                    newval = 0
                    if s:
                        if s != 1:
                            raise ValueError("bad refinement magnitude")
                        newval = p1 if reader.read_bit() else m1
                    elif r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += reader.read_bits(r)
                        break
                    while k <= se:
                        z = zz[k]
                        if coef[z] != 0:
                            if reader.read_bit() and (coef[z] & p1) == 0:
                                coef[z] += p1 if coef[z] >= 0 else m1
                        else:
                            if r == 0:
                                if s:
                                    coef[z] = newval
                                k += 1
                                break
                            r -= 1
                        k += 1
            if eobrun > 0:  # refine remaining nonzeros in the EOB band
                while k <= se:
                    z = zz[k]
                    if coef[z] != 0 and reader.read_bit() and (coef[z] & p1) == 0:
                        coef[z] += p1 if coef[z] >= 0 else m1
                    k += 1
                eobrun -= 1
    return next_pos


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            self.write(0x7F, 8 - self.nbits)  # pad with 1s


def _quality_scale(q: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(int(quality), 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((q * s + 50) // 100, 1, 255)


def _encode_blocks(bw: _BitWriter, blocks: np.ndarray, q: np.ndarray,
                   dc_enc: dict, ac_enc: dict, pred: int) -> int:
    """Quantize + entropy-code an (N,64) zigzag coefficient batch."""
    coef = np.rint(blocks / q[None, :]).astype(np.int64)
    for blk in coef:
        zz = blk[_ZIGZAG]
        diff = int(zz[0]) - pred
        pred = int(zz[0])
        mag = abs(diff)
        t = mag.bit_length()
        code, length = dc_enc[t]
        bw.write(code, length)
        if t:
            bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_enc[0xF0]
                bw.write(code, length)
                run -= 16
            s = abs(v).bit_length()
            code, length = ac_enc[(run << 4) | s]
            bw.write(code, length)
            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            code, length = ac_enc[0x00]  # EOB
            bw.write(code, length)
    return pred


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H,W) float, H/W multiples of 8 → (N,64) DCT coefficients."""
    h, w = plane.shape
    tiles = plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3)
    coef = np.einsum("ij,abjk,kl->abil", _DCT, tiles - 128.0, _DCT.T)
    return coef.reshape(-1, 64)


def _pad_to(img: np.ndarray, mult: int) -> np.ndarray:
    h, w = img.shape
    ph, pw = -h % mult, -w % mult
    return np.pad(img, ((0, ph), (0, pw)), mode="edge")


def jpeg_encode(img: np.ndarray, quality: int = 85, subsample: bool = False) -> bytes:
    """Baseline JFIF encoder: (H,W) gray or (H,W,3) RGB uint8 → JPEG bytes.
    subsample=True uses 4:2:0 chroma (exercises the decoder's upsampling);
    default 4:4:4."""
    img = np.asarray(img)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    lq = _quality_scale(_STD_LUMA_Q, quality)
    cq = _quality_scale(_STD_CHROMA_Q, quality)
    dc_l_dec, dc_l_enc = _canonical_codes(*_DC_LUMA)
    ac_l_dec, ac_l_enc = _canonical_codes(*_AC_LUMA)
    dc_c_dec, dc_c_enc = _canonical_codes(*_DC_CHROMA)
    ac_c_dec, ac_c_enc = _canonical_codes(*_AC_CHROMA)

    out = bytearray(b"\xff\xd8")  # SOI
    # JFIF APP0
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

    def dqt(tid: int, q: np.ndarray) -> bytes:
        return b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + bytes(
            int(q[z]) for z in _ZIGZAG
        )

    out += dqt(0, lq)
    if not gray:
        out += dqt(1, cq)

    # SOF0
    nc = 1 if gray else 3
    sof = bytearray(struct.pack(">BHHB", 8, h, w, nc))
    if gray:
        sof += bytes([1, 0x11, 0])
    else:
        y_hv = 0x22 if subsample else 0x11
        sof += bytes([1, y_hv, 0, 2, 0x11, 1, 3, 0x11, 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof

    def dht(tc: int, th: int, tbl) -> bytes:
        counts, syms = tbl
        payload = bytes([(tc << 4) | th]) + bytes(counts) + bytes(syms)
        return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload

    out += dht(0, 0, _DC_LUMA) + dht(1, 0, _AC_LUMA)
    if not gray:
        out += dht(0, 1, _DC_CHROMA) + dht(1, 1, _AC_CHROMA)

    # SOS
    if gray:
        sos = bytes([1, 1, 0x00, 0, 63, 0])
    else:
        sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    bw = _BitWriter()
    if gray:
        plane = _pad_to(img.astype(np.float64), 8)
        _encode_blocks(bw, _to_blocks(plane), lq, dc_l_enc, ac_l_enc, 0)
    else:
        rgb = img.astype(np.float64)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128.0
        cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128.0
        if subsample:
            y_p = _pad_to(y, 16)
            cb_p = _pad_to(cb, 16)
            cr_p = _pad_to(cr, 16)
            cb_s = cb_p.reshape(cb_p.shape[0] // 2, 2, cb_p.shape[1] // 2, 2).mean(axis=(1, 3))
            cr_s = cr_p.reshape(cr_p.shape[0] // 2, 2, cr_p.shape[1] // 2, 2).mean(axis=(1, 3))
            yb = _to_blocks(y_p)
            cbb = _to_blocks(cb_s)
            crb = _to_blocks(cr_s)
            mcus_x = y_p.shape[1] // 16
            mcus_y = y_p.shape[0] // 16
            yb_grid = yb.reshape(mcus_y * 2, mcus_x * 2, 64)
            preds = {"y": 0, "cb": 0, "cr": 0}
            for m in range(mcus_x * mcus_y):
                my, mx = divmod(m, mcus_x)
                yblocks = np.stack([
                    yb_grid[my * 2, mx * 2], yb_grid[my * 2, mx * 2 + 1],
                    yb_grid[my * 2 + 1, mx * 2], yb_grid[my * 2 + 1, mx * 2 + 1],
                ])
                preds["y"] = _encode_blocks(bw, yblocks, lq, dc_l_enc, ac_l_enc, preds["y"])
                idx = my * mcus_x + mx
                preds["cb"] = _encode_blocks(bw, cbb[idx : idx + 1], cq, dc_c_enc, ac_c_enc, preds["cb"])
                preds["cr"] = _encode_blocks(bw, crb[idx : idx + 1], cq, dc_c_enc, ac_c_enc, preds["cr"])
        else:
            y_p, cb_p, cr_p = (_pad_to(p, 8) for p in (y, cb, cr))
            yb, cbb, crb = _to_blocks(y_p), _to_blocks(cb_p), _to_blocks(cr_p)
            preds = {"y": 0, "cb": 0, "cr": 0}
            for i in range(len(yb)):
                preds["y"] = _encode_blocks(bw, yb[i : i + 1], lq, dc_l_enc, ac_l_enc, preds["y"])
                preds["cb"] = _encode_blocks(bw, cbb[i : i + 1], cq, dc_c_enc, ac_c_enc, preds["cb"])
                preds["cr"] = _encode_blocks(bw, crb[i : i + 1], cq, dc_c_enc, ac_c_enc, preds["cr"])
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# flat 8-bit AC Huffman table for the progressive encoder: every (run,size)
# symbol with size 1-10 (160), the EOBn symbols 0x00-0xE0 (15) and ZRL 0xF0,
# all at code length 8 (176 codes < 255 — valid canonical table, all-ones
# unused). The standard Annex-K tables lack the EOBn symbols progressive
# needs.
_AC_PROG = (
    [0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0],
    sorted({(r << 4) | s for r in range(16) for s in range(1, 11)}
           | {n << 4 for n in range(15)} | {0xF0}),
)


def jpeg_encode_progressive(img: np.ndarray, quality: int = 85) -> bytes:
    """Progressive (SOF2) JFIF encoder, 4:4:4/grayscale, two successive-
    approximation stages per band: DC first (Al=1) + DC refine, then per
    component AC first (Ss=1..63, Al=1) + AC refine — so a decoder must
    implement all four scan kinds of T.81 Annex G, including EOB runs and
    correction-bit refinement. Pixel output equals the baseline encoding of
    the same image (identical quantized coefficients, different order)."""
    img = np.asarray(img)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    lq = _quality_scale(_STD_LUMA_Q, quality)
    cq = _quality_scale(_STD_CHROMA_Q, quality)
    _, dc_l_enc = _canonical_codes(*_DC_LUMA)
    _, dc_c_enc = _canonical_codes(*_DC_CHROMA)
    _, ac_enc = _canonical_codes(*_AC_PROG)

    if gray:
        comps = [(1, img.astype(np.float64), lq, dc_l_enc)]
    else:
        rgb = img.astype(np.float64)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128.0
        cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128.0
        comps = [(1, y, lq, dc_l_enc), (2, cb, cq, dc_c_enc), (3, cr, cq, dc_c_enc)]
    # per-component quantized coefficients in zigzag order, block raster order
    zzc = {}
    for cid, plane, q, _enc in comps:
        qc = np.rint(_to_blocks(_pad_to(plane, 8)) / q[None, :]).astype(np.int64)
        zzc[cid] = qc[:, _ZIGZAG]
    n_blocks = len(zzc[comps[0][0]])

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

    def dqt(tid, q):
        return b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + bytes(
            int(q[z]) for z in _ZIGZAG
        )

    out += dqt(0, lq)
    if not gray:
        out += dqt(1, cq)
    nc = 1 if gray else 3
    sof = bytearray(struct.pack(">BHHB", 8, h, w, nc))
    for cid, _p, _q, _e in comps:
        sof += bytes([cid, 0x11, 0 if cid == 1 else 1])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof  # SOF2

    def dht(tc, th, tbl):
        counts, syms = tbl
        payload = bytes([(tc << 4) | th]) + bytes(counts) + bytes(syms)
        return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload

    out += dht(0, 0, _DC_LUMA) + dht(1, 0, _AC_PROG)
    if not gray:
        out += dht(0, 1, _DC_CHROMA)

    def sos(comp_tbls, ss, se, ah, al):
        seg = bytearray([len(comp_tbls)])
        for cid, tds in comp_tbls:
            seg += bytes([cid, tds])
        seg += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", len(seg) + 2) + seg

    # ---- scan 1: DC first, interleaved, Al=1 --------------------------------
    out += sos([(cid, (0 if cid == 1 else 1) << 4) for cid, *_ in comps], 0, 0, 0, 1)
    bw = _BitWriter()
    preds = {cid: 0 for cid, *_ in comps}
    for i in range(n_blocks):
        for cid, _p, _q, dc_enc in comps:
            v = int(zzc[cid][i, 0]) >> 1  # point transform (arithmetic shift)
            diff = v - preds[cid]
            preds[cid] = v
            t = abs(diff).bit_length()
            code, length = dc_enc[t]
            bw.write(code, length)
            if t:
                bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    bw.flush()
    out += bw.out

    # ---- scan 2: DC refine, Ah=1 Al=0 ---------------------------------------
    out += sos([(cid, 0) for cid, *_ in comps], 0, 0, 1, 0)
    bw = _BitWriter()
    for i in range(n_blocks):
        for cid, *_ in comps:
            bw.write(int(zzc[cid][i, 0]) & 1, 1)
    bw.flush()
    out += bw.out

    # ---- per component: AC first (Al=1) then AC refine (Ah=1 Al=0) ----------
    for cid, *_ in comps:
        out += sos([(cid, 0x00)], 1, 63, 0, 1)
        bw = _BitWriter()
        _enc_ac_first_scan(bw, zzc[cid], ac_enc, al=1)
        bw.flush()
        out += bw.out

        out += sos([(cid, 0x00)], 1, 63, 1, 0)
        bw = _BitWriter()
        _enc_ac_refine_scan(bw, zzc[cid], ac_enc, al=0)
        bw.flush()
        out += bw.out

    out += b"\xff\xd9"
    return bytes(out)


def _pt(v: int, al: int) -> int:
    """AC point transform: magnitude shift toward zero (T.81 G.1.2.1)."""
    return (v >> al) if v >= 0 else -((-v) >> al)


def _enc_ac_first_scan(bw, zz_blocks, ac_enc, al):
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            n = eobrun.bit_length() - 1
            code, length = ac_enc[n << 4]
            bw.write(code, length)
            if n:
                bw.write(eobrun - (1 << n), n)
            eobrun = 0

    for blk in zz_blocks:
        vals = [_pt(int(blk[k]), al) for k in range(1, 64)]
        if not any(vals):
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        last = max(i for i, v in enumerate(vals) if v)
        run = 0
        for v in vals[: last + 1]:
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_enc[0xF0]
                bw.write(code, length)
                run -= 16
            s = abs(v).bit_length()
            code, length = ac_enc[(run << 4) | s]
            bw.write(code, length)
            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last < 62:
            eobrun = 1
    flush_eob()


def _enc_ac_refine_scan(bw, zz_blocks, ac_enc, al):
    """libjpeg encode_mcu_AC_refine: newly-nonzero coefficients (|pt|==1)
    get (run,1) symbols + a sign bit; previously-nonzero ones contribute
    buffered correction bits; trailing zeros fold into a shared EOB run."""
    eobrun = 0
    be: list[int] = []  # correction bits pending with the EOB run

    def flush_eob():
        nonlocal eobrun, be
        if eobrun:
            n = eobrun.bit_length() - 1
            code, length = ac_enc[n << 4]
            bw.write(code, length)
            if n:
                bw.write(eobrun - (1 << n), n)
            eobrun = 0
        for bit in be:
            bw.write(bit, 1)
        be = []

    for blk in zz_blocks:
        vals = [_pt(int(blk[k]), al) for k in range(1, 64)]
        absv = [abs(v) for v in vals]
        eob = 0  # index past the last newly-nonzero coefficient
        for i, a in enumerate(absv):
            if a == 1:
                eob = i + 1
        r = 0
        br: list[int] = []
        for i, a in enumerate(absv):
            if a == 0:
                r += 1
                continue
            while r > 15 and i < eob:
                flush_eob()
                code, length = ac_enc[0xF0]
                bw.write(code, length)
                r -= 16
                for bit in br:
                    bw.write(bit, 1)
                br = []
            if a > 1:
                br.append(a & 1)
                continue
            flush_eob()
            code, length = ac_enc[(r << 4) | 1]
            bw.write(code, length)
            bw.write(1 if vals[i] >= 0 else 0, 1)
            for bit in br:
                bw.write(bit, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            be.extend(br)
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()


# ---------------------------------------------------------------------------
# BMP (BITMAPINFOHEADER; 24-bit BGR + 8-bit paletted; bottom-up; row pad 4)
# ---------------------------------------------------------------------------


def bmp_decode(data: bytes) -> np.ndarray:
    if data[:2] != b"BM" or len(data) < 54:
        raise ValueError("not a BMP")
    pixel_off = struct.unpack("<I", data[10:14])[0]
    hdr_size = struct.unpack("<I", data[14:18])[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    w, h_raw = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    compression = struct.unpack("<I", data[30:34])[0]
    if compression not in (0, 1):
        raise ValueError(f"unsupported BMP compression {compression}")
    if w <= 0 or h_raw == 0:
        raise ValueError("degenerate BMP dimensions")
    top_down = h_raw < 0
    h = abs(h_raw)
    row_bytes = (w * bpp // 8 + 3) & ~3
    if compression == 1:  # BI_RLE8 (bottom-up only per spec)
        if bpp != 8 or top_down:
            raise ValueError("BI_RLE8 requires 8-bit bottom-up BMP")
        rows = np.zeros((h, row_bytes), np.uint8)
        x = y = 0
        i = pixel_off
        n = len(data)
        while i + 1 < n and y < h:
            cnt, val = data[i], data[i + 1]
            i += 2
            if cnt:  # repeat run
                end = min(x + cnt, w)
                rows[y, x:end] = val
                x = end
            elif val == 0:  # end of line
                x, y = 0, y + 1
            elif val == 1:  # end of bitmap
                break
            elif val == 2:  # delta jump
                if i + 1 >= n:
                    raise ValueError("BMP RLE8 delta truncated")
                x = min(x + data[i], w)
                y += data[i + 1]
                i += 2
            else:  # absolute literal run (word-aligned)
                if i + val > n:
                    raise ValueError("BMP RLE8 literal truncated")
                end = min(x + val, w)
                rows[y, x:end] = np.frombuffer(
                    data, np.uint8, count=end - x, offset=i
                )
                x = end
                i += val + (val & 1)
    else:
        px = np.frombuffer(
            data, dtype=np.uint8, count=row_bytes * h, offset=pixel_off
        )
        rows = px.reshape(h, row_bytes)
    if not top_down:
        rows = rows[::-1]
    if bpp == 24:
        bgr = rows[:, : w * 3].reshape(h, w, 3)
        return bgr[:, :, ::-1].copy()  # BGR → RGB
    if bpp == 8:
        n_colors = struct.unpack("<I", data[46:50])[0] or 256
        pal = np.frombuffer(
            data, dtype=np.uint8, count=n_colors * 4, offset=14 + hdr_size
        ).reshape(n_colors, 4)[:, :3][:, ::-1]  # BGRA → RGB
        idx = rows[:, :w]
        rgb = pal[idx]
        if (rgb[..., 0] == rgb[..., 1]).all() and (rgb[..., 1] == rgb[..., 2]).all():
            return rgb[..., 0].copy()  # gray palette → 2-D
        return rgb
    raise ValueError(f"unsupported BMP bpp {bpp}")


def bmp_encode_rle8(img: np.ndarray) -> bytes:
    """8-bit paletted BMP with BI_RLE8 compression (gray palette), the
    legacy-scanner screenshot format: repeat runs, word-aligned absolute
    runs, end-of-line and end-of-bitmap escapes."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim != 2:
        raise ValueError("bmp_encode_rle8 expects a 2-D gray image")
    h, w = img.shape
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up storage
        row = img[y]
        x = 0
        while x < w:
            j = x
            while j + 1 < w and row[j + 1] == row[x] and j - x < 254:
                j += 1
            run = j - x + 1
            if run >= 2 or w - x == 1:
                body += bytes([run, row[x]])
                x = j + 1
            else:
                k = x
                while k < w and k - x < 254:
                    if k + 1 < w and k + 2 <= w and row[k] == row[k + 1 : k + 2]:
                        break
                    k += 1
                lit = row[x:k].tobytes()
                if len(lit) < 3:  # absolute runs must be >= 3 bytes
                    for b in lit:
                        body += bytes([1, b])
                else:
                    body += bytes([0, len(lit)]) + lit
                    if len(lit) & 1:
                        body += b"\x00"  # word alignment
                x = k
        body += b"\x00\x00"  # end of line
    body += b"\x00\x01"  # end of bitmap
    pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
    pixel_off = 54 + len(pal)
    hdr = b"BM" + struct.pack("<IHHI", pixel_off + len(body), 0, 0, pixel_off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(body), 2835, 2835, 256, 0
    )
    return hdr + info + pal + bytes(body)


def bmp_encode(img: np.ndarray) -> bytes:
    """24-bit BMP (RGB or gray input)."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=2)
    h, w = img.shape[:2]
    row_bytes = (w * 3 + 3) & ~3
    body = np.zeros((h, row_bytes), dtype=np.uint8)
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    pixel_off = 54
    size = pixel_off + body.size
    hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, pixel_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, body.size, 2835, 2835, 0, 0)
    return hdr + info + body.tobytes()


# ---------------------------------------------------------------------------
# TIFF (baseline uncompressed; II/MM; strips; gray + RGB)
# ---------------------------------------------------------------------------

_TIFF_TYPES = {1: ("B", 1), 3: ("H", 2), 4: ("I", 4), 7: ("B", 1)}


def tiff_decode(data: bytes) -> np.ndarray:
    """Decode a TIFF container (strips or tiles, all supported
    compressions). Malformed input raises ValueError — foreign exception
    types from corrupt tag soup (struct/zlib/slice errors, allocation
    blowups from corrupt dims) are converted so the per-asset envelopes
    and ValueError-filtering callers stay airtight."""
    import zlib

    try:
        return _tiff_decode_inner(data)
    except (struct.error, IndexError, MemoryError, zlib.error) as e:
        raise ValueError(f"corrupt TIFF: {type(e).__name__}: {e}") from None


_MAX_TIFF_PAGES = 512  # multi-page chain budget (fax archives run ~100s)
# aggregate decode budget across the chain: 512 Mpx (uint8 = 512 MB) covers
# a 100-page A4 fax archive at 200 dpi (~400 Mpx) while still bounding a
# DoS chain of maximum-size pages; the per-page 64 Mpx cap applies on top
_MAX_TOTAL_PIXELS = 512_000_000


def tiff_decode_pages(data: bytes, max_pages: int = _MAX_TIFF_PAGES) -> list[np.ndarray]:
    """Decode EVERY page of a (possibly multi-page) TIFF by following the
    IFD chain — the standard scanned-document/fax-archive container shape
    that single-IFD decoding silently truncates to page 1. Cycle-proof
    (seen-offset set), page- and aggregate-pixel-budgeted. Returns a list
    of uint8 arrays (pages may differ in size)."""
    import zlib

    try:
        bo = _tiff_byte_order(data)
        (ifd_off,) = struct.unpack(bo + "I", data[4:8])
        pages: list[np.ndarray] = []
        seen: set[int] = set()
        total_px = 0
        while ifd_off:
            if ifd_off in seen:
                raise ValueError("TIFF IFD chain cycle")
            seen.add(ifd_off)
            if len(pages) >= max_pages:
                raise ValueError(
                    f"TIFF has more than {max_pages} pages (chain budget)"
                )
            tags, ifd_off = _tiff_parse_ifd(data, bo, ifd_off)
            img = _tiff_decode_tags(data, tags)
            total_px += img.shape[0] * img.shape[1]
            if total_px > _MAX_TOTAL_PIXELS:
                raise ValueError("implausible multi-page TIFF (pixel budget)")
            pages.append(img)
        if not pages:
            raise ValueError("TIFF has no IFD")
        return pages
    except (struct.error, IndexError, MemoryError, zlib.error) as e:
        raise ValueError(f"corrupt TIFF: {type(e).__name__}: {e}") from None


def _tiff_rebase(page: bytes, delta: int) -> tuple[bytes, int]:
    """Shift every file-offset in a standalone single-page little-endian
    TIFF by `delta` and drop its 8-byte header, so the fragment can be
    appended at (original position + delta) in a multi-page file. Offsets
    live in two places: each IFD entry's out-of-line value pointer, and
    the VALUES of the offset-valued tags (273 StripOffsets, 324
    TileOffsets) whether inline or out-of-line."""
    bo = _tiff_byte_order(page)
    if bo != "<":
        raise ValueError("tiff_encode_pages: little-endian pages only")
    buf = bytearray(page)
    (ifd_off,) = struct.unpack("<I", buf[4:8])
    (n_entries,) = struct.unpack("<H", buf[ifd_off : ifd_off + 2])
    for i in range(n_entries):
        at = ifd_off + 2 + 12 * i
        tag, typ, cnt = struct.unpack_from("<HHI", buf, at)
        if typ not in _TIFF_TYPES:
            continue
        fmt, sz = _TIFF_TYPES[typ]
        total = sz * cnt
        if total > 4:
            # out-of-line payload: shift the entry's value pointer …
            (ptr,) = struct.unpack_from("<I", buf, at + 8)
            struct.pack_into("<I", buf, at + 8, ptr + delta)
            val_at = ptr
        else:
            val_at = at + 8
        if tag in (273, 324):  # values ARE file offsets
            for k in range(cnt):
                (v,) = struct.unpack_from("<" + fmt, buf, val_at + k * sz)
                struct.pack_into("<" + fmt, buf, val_at + k * sz, v + delta)
    return bytes(buf[8:]), ifd_off + delta


def tiff_encode_pages(
    pages: list[np.ndarray], compression: str = "none", **kw
) -> bytes:
    """Multi-page little-endian TIFF: each page encoded by the single-page
    writer, rebased, and chained through the next-IFD pointers — real
    fax-archive layout, offset-exact."""
    if not pages:
        raise ValueError("no pages")
    singles = [tiff_encode(np.asarray(p, np.uint8), compression, **kw)
               for p in pages]
    out = bytearray(b"II*\x00\x00\x00\x00\x00")
    prev_next_ptr: int | None = None  # position of the pointer to patch
    for s in singles:
        delta = len(out) - 8
        frag, ifd_abs = _tiff_rebase(s, delta)
        if prev_next_ptr is None:
            struct.pack_into("<I", out, 4, ifd_abs)  # header -> first IFD
        else:
            struct.pack_into("<I", out, prev_next_ptr, ifd_abs)
        out += frag
        # the fragment's IFD ends with its (zero) next pointer
        (n_entries,) = struct.unpack_from("<H", out, ifd_abs)
        prev_next_ptr = ifd_abs + 2 + 12 * n_entries
    return bytes(out)


def _tiff_byte_order(data: bytes) -> str:
    if data[:4] == b"II*\x00":
        return "<"
    if data[:4] == b"MM\x00*":
        return ">"
    raise ValueError("not a TIFF")


def _tiff_parse_ifd(
    data: bytes, bo: str, ifd_off: int
) -> tuple[dict[int, list[int]], int]:
    """Parse one IFD -> (tags, next_ifd_offset). next == 0 ends the
    subfile chain (TIFF 6.0 §2: multi-page scans are chained IFDs)."""
    if ifd_off <= 0 or ifd_off + 2 > len(data):
        raise ValueError(f"TIFF IFD offset {ifd_off} out of bounds")
    (n_entries,) = struct.unpack(bo + "H", data[ifd_off : ifd_off + 2])
    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        e = data[ifd_off + 2 + 12 * i : ifd_off + 14 + 12 * i]
        tag, typ, cnt = struct.unpack(bo + "HHI", e[:8])
        if typ not in _TIFF_TYPES:
            continue
        fmt, sz = _TIFF_TYPES[typ]
        total = sz * cnt
        if total > len(data):
            # a corrupt count here would otherwise build a gigabyte-scale
            # struct format string below
            raise ValueError(f"TIFF tag {tag} count {cnt} exceeds file size")
        raw = e[8 : 8 + total] if total <= 4 else data[
            struct.unpack(bo + "I", e[8:12])[0] :
        ][:total]
        tags[tag] = list(struct.unpack(bo + fmt * cnt, raw[:total]))
    next_at = ifd_off + 2 + 12 * n_entries
    if next_at + 4 <= len(data):
        (next_off,) = struct.unpack(bo + "I", data[next_at : next_at + 4])
    else:
        next_off = 0
    return tags, next_off


def _tiff_decode_inner(data: bytes) -> np.ndarray:
    bo = _tiff_byte_order(data)
    (ifd_off,) = struct.unpack(bo + "I", data[4:8])
    tags, _next = _tiff_parse_ifd(data, bo, ifd_off)
    return _tiff_decode_tags(data, tags)


def _tiff_decode_tags(data: bytes, tags: dict[int, list[int]]) -> np.ndarray:
    try:
        w, h = tags[256][0], tags[257][0]
    except KeyError:
        raise ValueError("TIFF missing dimensions") from None
    if w <= 0 or h <= 0 or w * h > 64_000_000:
        raise ValueError(f"implausible TIFF dims {w}x{h}")
    compression = tags.get(259, [1])[0]
    if 322 in tags:  # tiled organization (TIFF 6.0 §15)
        return _tiff_tiled_decode(data, tags)
    if compression in (2, 3, 4):  # CCITT G3 1-D / G3 / G4 bilevel fax
        return _tiff_ccitt_decode(data, tags)
    if compression == 7:  # new-style JPEG-in-TIFF (TTN2)
        return _tiff_jpeg_decode(data, tags)
    if compression not in (1, 5, 8, 32773, 32946):
        raise ValueError(f"unsupported TIFF compression {compression}")
    spp = tags.get(277, [1])[0]
    bps = tags.get(258, [1] * spp)
    if any(b != 8 for b in bps):
        raise ValueError(f"unsupported TIFF bits-per-sample {bps}")
    predictor = tags.get(317, [1])[0]
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    strip_offs = tags.get(273)
    if not strip_offs:
        raise ValueError("TIFF missing strip offsets")
    strip_counts = tags.get(279, [w * h * spp])
    rows_per_strip = tags.get(278, [h])[0] or h
    if compression == 1:
        buf = b"".join(
            data[o : o + c] for o, c in zip(strip_offs, strip_counts)
        )
    else:
        # strips are INDEPENDENT compressed streams (TIFF 6.0 §13/§9)
        parts = []
        for si, (o, c) in enumerate(zip(strip_offs, strip_counts)):
            rows = min(rows_per_strip, h - si * rows_per_strip)
            if rows <= 0:
                break
            expected = rows * w * spp
            raw = data[o : o + c]
            if compression == 5:
                parts.append(_tiff_lzw_decode(raw, expected))
            elif compression in (8, 32946):  # Adobe/legacy Deflate
                from ocr_spark.operators.cloud_engine import inflate_bounded

                dec = inflate_bounded(raw, expected, "TIFF strip", truncate=True)
                if len(dec) < expected:
                    raise ValueError(
                        f"Deflate strip short: {len(dec)} < {expected}"
                    )
                parts.append(dec)
            else:
                parts.append(_packbits_decode(raw, expected))
        buf = b"".join(parts)
    arr = np.frombuffer(buf, dtype=np.uint8, count=w * h * spp)
    if predictor == 2:
        rows = arr.reshape(h, w, spp).astype(np.int64)
        arr = (np.cumsum(rows, axis=1) & 0xFF).astype(np.uint8).reshape(-1)
    if spp == 1:
        return arr.reshape(h, w).copy()
    return arr.reshape(h, w, spp)[:, :, :3].copy()


def _tiff_wrap_ifd(
    body: bytes, w: int, h: int, spp: int, comp_tag: int,
    bps: int = 8, photometric: int | None = None, t4opts: int | None = None,
    predictor: int | None = None,
) -> bytes:
    """Single-strip little-endian TIFF container around an encoded body.
    spp == 3 writes the REQUIRED 3-element BitsPerSample array (count must
    equal SamplesPerPixel per TIFF 6.0) right after the body."""
    data_off = 8
    bits_off = data_off + len(body)
    ifd_off = bits_off + (6 if spp == 3 else 0)
    entries = []

    def entry(tag, typ, cnt, val):
        entries.append(struct.pack("<HHI", tag, typ, cnt) + struct.pack("<I", val))

    def entry_short(tag, val):
        entries.append(struct.pack("<HHIHH", tag, 3, 1, val, 0))

    entry_short(256, w)
    entry_short(257, h)
    if spp == 3:
        entry(258, 3, 3, bits_off)
    else:
        entry_short(258, bps)
    entry_short(259, comp_tag)
    entry_short(
        262, photometric if photometric is not None else (1 if spp == 1 else 2)
    )
    entry(273, 4, 1, data_off)
    entry_short(277, spp)
    entry_short(278, h)
    entry(279, 4, 1, len(body))
    if t4opts is not None:
        entry(292, 4, 1, t4opts)
    if predictor == 2:
        entry_short(317, 2)
    ifd = struct.pack("<H", len(entries)) + b"".join(entries) + struct.pack("<I", 0)
    out = b"II*\x00" + struct.pack("<I", ifd_off) + body
    if spp == 3:
        out += struct.pack("<HHH", bps, bps, bps)
    return out + ifd


def _tiff_jpeg_decode(data: bytes, tags: dict[int, list[int]]) -> np.ndarray:
    """TIFF compression 7 (new-style JPEG, TIFF Technical Note 2): every
    strip is an independent JPEG stream, optionally ABBREVIATED — the
    shared DQT/DHT segments then live in the JPEGTables tag (347) and are
    spliced in after each strip's SOI before handing to the baseline
    decoder. Strips stack vertically (RowsPerStrip each)."""
    w, h = tags[256][0], tags[257][0]
    strip_offs = tags.get(273)
    if not strip_offs:
        raise ValueError("TIFF missing strip offsets")
    strip_counts = tags.get(279, [len(data) - strip_offs[0]])
    tbl = b""
    if 347 in tags:
        t = bytes(tags[347])
        if t[:2] != b"\xff\xd8":
            raise ValueError("JPEGTables does not start with SOI")
        tbl = t[2:]
        if tbl[-2:] == b"\xff\xd9":
            tbl = tbl[:-2]
    parts = []
    for o, c in zip(strip_offs, strip_counts):
        raw = data[o : o + c]
        if raw[:2] != b"\xff\xd8":
            raise ValueError("JPEG strip does not start with SOI")
        parts.append(jpeg_decode(raw[:2] + tbl + raw[2:]))
    img = np.vstack(parts) if len(parts) > 1 else parts[0]
    if img.shape[0] < h or img.shape[1] < w:
        raise ValueError(
            f"JPEG strips decode to {img.shape[:2]}, IFD says {(h, w)}"
        )
    return img[:h, :w] if img.ndim == 2 else img[:h, :w, :]


def _tiff_tiled_decode(data: bytes, tags: dict[int, list[int]]) -> np.ndarray:
    """Tiled TIFF (tags 322/323/324/325): tiles are INDEPENDENT compressed
    streams of exactly TileWidth x TileLength samples (edge tiles are
    encoded at full tile size and cropped on assembly), laid out
    left-to-right, top-to-bottom. Supports the same compressions as the
    strip path: none/LZW/PackBits/Deflate (+Predictor 2), CCITT 2/3/4
    (bilevel), and new-style JPEG (7, with JPEGTables)."""
    w, h = tags[256][0], tags[257][0]
    compression = tags.get(259, [1])[0]
    spp = tags.get(277, [1])[0]
    tw = tags.get(322, [0])[0]
    th = tags.get(323, [0])[0]
    if tw <= 0 or th <= 0 or tw % 16 or th % 16:
        raise ValueError(f"bad TIFF tile size {tw}x{th}")
    offs = tags.get(324)
    if not offs:
        raise ValueError("tiled TIFF missing TileOffsets")
    counts = tags.get(325, [0] * len(offs))
    tiles_across = (w + tw - 1) // tw
    tiles_down = (h + th - 1) // th
    if len(offs) < tiles_across * tiles_down:
        raise ValueError("TileOffsets shorter than the tile grid")
    predictor = tags.get(317, [1])[0]
    bps = tags.get(258, [1] * spp)
    ccitt = compression in (2, 3, 4)
    if ccitt:
        if spp != 1 or bps[0] != 1:
            raise ValueError("CCITT tiles must be bilevel")
        photometric = tags.get(262, [0])[0]
        out = np.zeros((h, w), dtype=np.uint8)
    elif compression == 7:
        tbl = b""
        if 347 in tags:
            t = bytes(tags[347])
            if t[:2] != b"\xff\xd8":
                raise ValueError("JPEGTables does not start with SOI")
            tbl = t[2:]
            if tbl[-2:] == b"\xff\xd9":
                tbl = tbl[:-2]
        out = None  # shape set from the first tile's component count
    else:
        if compression not in (1, 5, 8, 32773, 32946):
            raise ValueError(f"unsupported TIFF compression {compression}")
        if any(b != 8 for b in bps):
            raise ValueError(f"unsupported TIFF bits-per-sample {bps}")
        out = np.zeros(
            (h, w) if spp == 1 else (h, w, spp), dtype=np.uint8
        )
    for ti in range(tiles_down):
        for tj in range(tiles_across):
            i = ti * tiles_across + tj
            o, c = offs[i], counts[i]
            raw = data[o : o + c] if c else data[o:]
            y0, x0 = ti * th, tj * tw
            hh_, ww_ = min(th, h - y0), min(tw, w - x0)
            if ccitt:
                from ocr_spark.operators.fax_codec import (
                    g3_1d_decode,
                    g3_2d_decode,
                    g4_decode,
                )

                if compression == 2:
                    bits = g3_1d_decode(raw, tw, th, byte_align=True)
                elif compression == 3:
                    if tags.get(292, [0])[0] & 0b1:
                        bits = g3_2d_decode(raw, tw, th)
                    else:
                        bits = g3_1d_decode(raw, tw, th)
                else:
                    bits = g4_decode(raw, tw, th)
                tile = (
                    (bits * 255) if photometric == 1 else ((1 - bits) * 255)
                ).astype(np.uint8)
            elif compression == 7:
                if raw[:2] != b"\xff\xd8":
                    raise ValueError("JPEG tile does not start with SOI")
                tile = jpeg_decode(raw[:2] + tbl + raw[2:])
                if out is None:
                    shape = (h, w) if tile.ndim == 2 else (h, w, tile.shape[2])
                    out = np.zeros(shape, dtype=np.uint8)
            else:
                expected = tw * th * spp
                if compression == 1:
                    buf = bytes(raw[:expected])
                elif compression == 5:
                    buf = _tiff_lzw_decode(raw, expected)
                elif compression in (8, 32946):
                    from ocr_spark.operators.cloud_engine import inflate_bounded

                    buf = inflate_bounded(raw, expected, "TIFF tile", truncate=True)
                else:
                    buf = _packbits_decode(raw, expected)
                if len(buf) < expected:
                    raise ValueError(
                        f"tile {i}: {len(buf)} < {expected} bytes"
                    )
                arr = np.frombuffer(buf, np.uint8, count=expected)
                if predictor == 2:
                    rows = arr.reshape(th, tw, spp).astype(np.int64)
                    arr = (np.cumsum(rows, axis=1) & 0xFF).astype(np.uint8)
                tile = arr.reshape(th, tw) if spp == 1 else arr.reshape(
                    th, tw, spp
                )
            out[y0 : y0 + hh_, x0 : x0 + ww_] = tile[:hh_, :ww_]
    if out is None:
        raise ValueError("tiled TIFF decoded no tiles")
    return out


def _tiff_ccitt_decode(data: bytes, tags: dict[int, list[int]]) -> np.ndarray:
    """TIFF compression 2 (T.4 MH, byte-aligned lines), 3 (Group 3 with
    EOLs; T4Options bit 0 selects 2-D lines) and 4 (T.6/G4). Bilevel only
    (BitsPerSample 1, SamplesPerPixel 1). PhotometricInterpretation 0
    (WhiteIsZero, the CCITT default) maps coding-white to gray 255;
    photometric 1 inverts. FillOrder 2 reverses bits within each byte."""
    from ocr_spark.operators.fax_codec import (
        g3_1d_decode,
        g3_2d_decode,
        g4_decode,
    )

    w, h = tags[256][0], tags[257][0]
    compression = tags[259][0]
    spp = tags.get(277, [1])[0]
    bps = tags.get(258, [1])[0]
    if spp != 1 or bps != 1:
        raise ValueError(
            f"CCITT TIFF must be bilevel (spp={spp}, bps={bps})"
        )
    if compression == 3 and tags.get(292, [0])[0] & 0b10:
        raise ValueError("T4Options uncompressed mode not supported")
    if compression == 4 and tags.get(293, [0])[0] & 0b10:
        raise ValueError("T6Options uncompressed mode not supported")
    fill_order = tags.get(266, [1])[0]
    strip_offs = tags.get(273)
    if not strip_offs:
        raise ValueError("TIFF missing strip offsets")
    strip_counts = tags.get(279, [len(data) - strip_offs[0]])
    rows_per_strip = tags.get(278, [h])[0] or h
    photometric = tags.get(262, [0])[0]
    parts: list[np.ndarray] = []
    for si, (o, c) in enumerate(zip(strip_offs, strip_counts)):
        rows = min(rows_per_strip, h - si * rows_per_strip)
        if rows <= 0:
            break
        raw = data[o : o + c]
        if fill_order == 2:  # LSB-first bytes -> reverse bits per byte
            raw = np.packbits(
                np.unpackbits(
                    np.frombuffer(raw, np.uint8), bitorder="little"
                )
            ).tobytes()
        if compression == 2:
            bits = g3_1d_decode(raw, w, rows, byte_align=True)
        elif compression == 3:
            if tags.get(292, [0])[0] & 0b1:  # 2-D lines
                bits = g3_2d_decode(raw, w, rows)
            else:
                bits = g3_1d_decode(raw, w, rows)
        else:
            bits = g4_decode(raw, w, rows)
        parts.append(bits)
    if not parts:
        raise ValueError("no CCITT strips decoded (zero-height image?)")
    bits = np.concatenate(parts) if len(parts) > 1 else parts[0]
    if bits.shape[0] != h:
        raise ValueError(f"decoded {bits.shape[0]} rows, expected {h}")
    # coding 1=black; photometric 0 (min-is-white) -> white pixels = 255
    if photometric == 1:  # BlackIsZero: coding-white displays black
        return (bits * 255).astype(np.uint8)
    return ((1 - bits) * 255).astype(np.uint8)


def tiff_encode_tiled(
    img: np.ndarray, compression: str = "none",
    tile_w: int = 64, tile_h: int = 64,
) -> bytes:
    """Tiled-TIFF fixture writer (TIFF 6.0 §15): each tile an independent
    stream at full tile size (edges zero-padded), compression 'none' |
    'lzw' | 'deflate' | 'packbits' | 'g4' (bilevel) | 'jpeg'."""
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    spp = 1 if img.ndim == 2 else img.shape[2]
    if tile_w % 16 or tile_h % 16:
        raise ValueError("tile dims must be multiples of 16")
    tiles_across = (w + tile_w - 1) // tile_w
    tiles_down = (h + tile_h - 1) // tile_h
    bodies = []
    for ti in range(tiles_down):
        for tj in range(tiles_across):
            y0, x0 = ti * tile_h, tj * tile_w
            pad_shape = (tile_h, tile_w) if spp == 1 else (tile_h, tile_w, spp)
            tile = np.zeros(pad_shape, np.uint8)
            sub = img[y0 : y0 + tile_h, x0 : x0 + tile_w]
            tile[: sub.shape[0], : sub.shape[1]] = sub
            if compression == "none":
                bodies.append(tile.tobytes())
            elif compression == "lzw":
                bodies.append(_tiff_lzw_encode(tile.tobytes()))
            elif compression == "deflate":
                import zlib

                bodies.append(zlib.compress(tile.tobytes()))
            elif compression == "packbits":
                bodies.append(
                    b"".join(
                        _packbits_encode(
                            tile.reshape(tile_h, tile_w * spp)[r].tobytes()
                        )
                        for r in range(tile_h)
                    )
                )
            elif compression == "g4":
                from ocr_spark.operators.fax_codec import g4_encode

                bodies.append(g4_encode((tile < 128).astype(np.uint8)))
            elif compression == "jpeg":
                bodies.append(jpeg_encode(tile))
            else:
                raise ValueError(f"unknown tile compression {compression!r}")
    comp_tag = {"none": 1, "lzw": 5, "deflate": 8, "packbits": 32773,
                "g4": 4, "jpeg": 7}[compression]
    bps = 1 if compression == "g4" else 8
    photometric = 0 if compression == "g4" else (1 if spp == 1 else 2)
    # layout: header | tiles | offset+count arrays (+bits array) | IFD
    data_off = 8
    offs, pos = [], data_off
    for b in bodies:
        offs.append(pos)
        pos += len(b)
    arr_off = pos
    n_tiles = len(bodies)
    arrays = struct.pack(f"<{n_tiles}I", *offs) + struct.pack(
        f"<{n_tiles}I", *[len(b) for b in bodies]
    )
    bits_off = arr_off + len(arrays)
    ifd_off = bits_off + (6 if spp == 3 else 0)
    entries = []

    def entry(tag, typ, cnt, val):
        entries.append(struct.pack("<HHI", tag, typ, cnt) + struct.pack("<I", val))

    def eshort(tag, val):
        entries.append(struct.pack("<HHIHH", tag, 3, 1, val, 0))

    eshort(256, w)
    eshort(257, h)
    if spp == 3:
        entry(258, 3, 3, bits_off)
    else:
        eshort(258, bps)
    eshort(259, comp_tag)
    eshort(262, photometric)
    eshort(277, spp)
    eshort(322, tile_w)
    eshort(323, tile_h)
    if n_tiles == 1:  # 4-byte LONG values are stored inline, not pointed-to
        entry(324, 4, 1, offs[0])
        entry(325, 4, 1, len(bodies[0]))
    else:
        entry(324, 4, n_tiles, arr_off)
        entry(325, 4, n_tiles, arr_off + 4 * n_tiles)
    ifd = struct.pack("<H", len(entries)) + b"".join(entries) + struct.pack("<I", 0)
    out = b"II*\x00" + struct.pack("<I", ifd_off) + b"".join(bodies) + arrays
    if spp == 3:
        out += struct.pack("<HHH", 8, 8, 8)
    return out + ifd


def tiff_encode(
    img: np.ndarray, compression: str = "none", predictor: int = 1
) -> bytes:
    """Little-endian TIFF (gray or RGB), one strip. compression 'none' |
    'lzw' | 'packbits' (PackBits compresses row by row, the layout real
    writers use) | 'g3' | 'g3_2d' | 'g4' (CCITT bilevel fax: gray input
    thresholded at 128, photometric 0 WhiteIsZero, BitsPerSample 1) |
    'jpeg' (compression 7, one full-stream strip);
    predictor=2 applies horizontal differencing before LZW."""
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    spp = 1 if img.ndim == 2 else img.shape[2]
    if compression == "jpeg":
        return _tiff_wrap_ifd(
            jpeg_encode(img), w, h, spp, 7,
            bps=8, photometric=1 if spp == 1 else 6,
        )
    if compression in ("g3", "g3_2d", "g4"):
        from ocr_spark.operators.fax_codec import (
            g3_1d_encode,
            g3_2d_encode,
            g4_encode,
        )

        if img.ndim != 2:
            raise ValueError("CCITT writer needs a 2-D gray/bilevel array")
        bits = (img < 128).astype(np.uint8)  # coding 1 = black
        if compression == "g3":
            body, comp_tag, t4opts = g3_1d_encode(bits, byte_align=True), 2, None
        elif compression == "g3_2d":
            body, comp_tag, t4opts = g3_2d_encode(bits), 3, 1
        else:
            body, comp_tag, t4opts = g4_encode(bits), 4, None
        return _tiff_wrap_ifd(
            body, w, h, 1, comp_tag, bps=1, photometric=0, t4opts=t4opts
        )
    raw = img
    if predictor == 2:
        d = img.reshape(h, w, spp).astype(np.int64)
        d[:, 1:] = d[:, 1:] - d[:, :-1]
        raw = (d & 0xFF).astype(np.uint8)
    elif predictor != 1:
        raise ValueError(f"unsupported writer predictor {predictor}")
    if compression == "none":
        body = raw.tobytes()
        comp_tag = 1
    elif compression == "lzw":
        body = _tiff_lzw_encode(raw.tobytes())
        comp_tag = 5
    elif compression == "packbits":
        body = b"".join(
            _packbits_encode(raw.reshape(h, w * spp)[r].tobytes())
            for r in range(h)
        )
        comp_tag = 32773
    elif compression == "deflate":
        import zlib

        body = zlib.compress(raw.tobytes())
        comp_tag = 8
    else:
        raise ValueError(f"unknown compression {compression!r}")
    return _tiff_wrap_ifd(body, w, h, spp, comp_tag, predictor=predictor)


# ---------------------------------------------------------------------------
# GIF (87a/89a; LZW; global/local palettes; multi-frame)
# ---------------------------------------------------------------------------


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # bit reader: LSB-first within bytes
    acc = nbits = pos = 0
    code_size = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None

    def read_code():
        nonlocal acc, nbits, pos
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("GIF LZW stream truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        c = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        return c

    while len(out) < n_pixels:
        code = read_code()
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW bad first code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("GIF LZW code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
    return bytes(out[:n_pixels])


def _lzw_encode(min_code_size: int, pixels: bytes) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0
    code_size = min_code_size + 1

    def emit(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear)
    cur = b""
    for p in pixels:
        nxt = cur + bytes([p])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            if next_code > (1 << code_size) and code_size < 12:
                code_size += 1
        else:  # table full: clear and restart (decoder resets on clear)
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            code_size = min_code_size + 1
        cur = bytes([p])
    if cur:
        emit(table[cur])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def gif_decode_frames(data: bytes) -> list[np.ndarray]:
    """GIF → list of (H,W,3) RGB frames (full logical-screen composition:
    each frame is drawn over the previous one at its declared offset)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h = struct.unpack("<HH", data[6:10])
    flags = data[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    frames: list[np.ndarray] = []
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None:
        canvas[:] = gct[data[11] % len(gct)]  # background color
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        ix, iy, iw, ih = struct.unpack("<HHHH", data[pos + 1 : pos + 9])
        lflags = data[pos + 9]
        pos += 10
        pal = gct
        if lflags & 0x80:
            n = 2 << (lflags & 7)
            pal = np.frombuffer(data, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        interlaced = bool(lflags & 0x40)
        if pal is None:
            raise ValueError("GIF frame has no palette")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(data) and data[pos] != 0:
            sz = data[pos]
            lzw += data[pos + 1 : pos + 1 + sz]
            pos += 1 + sz
        pos += 1
        idx = np.frombuffer(
            _lzw_decode(min_code, bytes(lzw), iw * ih), np.uint8
        ).reshape(ih, iw)
        if interlaced:
            # GIF interlace stores rows in 4 passes (0::8, 4::8, 2::4,
            # 1::2); scatter the stored order back onto the frame grid
            idx2 = np.empty_like(idx)
            idx2[_gif_interlace_order(ih)] = idx
            idx = idx2
        canvas[iy : iy + ih, ix : ix + iw] = pal[idx % len(pal)]
        frames.append(canvas.copy())
    if not frames:
        raise ValueError("GIF contains no image frames")
    return frames


def _gif_interlace_order(h: int) -> list[int]:
    """Frame-row order of an interlaced GIF's stored scanlines."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def gif_encode(
    frames: list[np.ndarray] | np.ndarray, interlace: bool = False
) -> bytes:
    """GIF89a encoder: one or more (H,W) gray or (H,W,3) RGB frames, each
    quantized to a per-frame 256-color palette (exact when <=256 distinct
    colors — always true for our synthetic/grayscale fixtures).
    interlace=True stores each frame's rows in 4-pass interlace order."""
    if isinstance(frames, np.ndarray):
        frames = [frames]
    frames = [
        np.stack([f] * 3, axis=2) if f.ndim == 2 else f for f in
        (np.asarray(f, dtype=np.uint8) for f in frames)
    ]
    h, w = frames[0].shape[:2]
    out = bytearray(b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x00, 0, 0]))
    if len(frames) > 1:
        # NETSCAPE loop extension
        out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f in frames:
        if f.shape[:2] != (h, w):
            raise ValueError("all GIF frames must share dimensions")
        flat = f.reshape(-1, 3)
        colors, inv = np.unique(flat, axis=0, return_inverse=True)
        shift = 0
        while len(colors) > 256 and shift < 6:
            # uniform per-channel quantization, coarsened until the palette
            # fits (shift 6 → ≤64 colors, guaranteed); exact when the frame
            # already has ≤256 distinct colors (all our fixtures)
            shift += 1
            q = (flat >> shift) << shift
            colors, inv = np.unique(q, axis=0, return_inverse=True)
        bits = max(1, (len(colors) - 1).bit_length())
        pal_n = 1 << bits
        pal = np.zeros((pal_n, 3), dtype=np.uint8)
        pal[: len(colors)] = colors
        if len(frames) > 1:
            out += b"\x21\xf9\x04\x00\x0a\x00\x00\x00"  # GCE: 0.1s delay
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
        lf = 0x80 | (bits - 1)  # local palette
        if interlace:
            lf |= 0x40
        out += bytes([lf])
        out += pal.tobytes()
        min_code = max(2, bits)
        out.append(min_code)
        idx2d = inv.astype(np.uint8).reshape(h, w)
        if interlace:
            idx2d = idx2d[_gif_interlace_order(h)]
        lzw = _lzw_encode(min_code, idx2d.tobytes())
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


# ---------------------------------------------------------------------------
# TIFF compression variants (TIFF 6.0 spec): LZW (MSB-first bit packing,
# EarlyChange code widening — the notorious off-by-one GIF does NOT have),
# PackBits (Apple RLE), and Predictor 2 (horizontal differencing).
# ---------------------------------------------------------------------------


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-flavor LZW: 8-bit symbols, clear=256 eoi=257, codes packed
    MSB-first, and the code width grows one code EARLY (at table size
    2^bits - 1) — TIFF 6.0 §13 as every real writer implements it."""
    clear, eoi = 256, 257
    out = bytearray()
    acc = nbits = pos = 0
    code_size = 9
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    prev: bytes | None = None
    n = len(data)
    while len(out) < expected:
        while nbits < code_size:
            if pos >= n:
                raise ValueError("TIFF LZW stream truncated")
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        code = (acc >> (nbits - code_size)) & ((1 << code_size) - 1)
        nbits -= code_size
        acc &= (1 << nbits) - 1
        if code == clear:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            code_size = 9
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("TIFF LZW bad first code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("TIFF LZW code out of range")
        out += entry
        prev = entry
        if len(table) == (1 << code_size) - 1 and code_size < 12:
            code_size += 1  # EarlyChange
    return bytes(out[:expected])


def _tiff_lzw_encode(pixels: bytes) -> bytes:
    clear, eoi = 256, 257
    out = bytearray()
    acc = nbits = 0

    def put(code: int, size: int) -> None:
        nonlocal acc, nbits
        acc = (acc << size) | code
        nbits += size
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
            acc &= (1 << nbits) - 1

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    code_size = 9
    put(clear, code_size)
    w = b""
    for b in pixels:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        put(table[w], code_size)
        table[wc] = next_code
        next_code += 1
        # the decoder's table runs ONE ENTRY BEHIND and widens (EarlyChange)
        # when its size hits 2^bits - 1 — i.e. when our next_code hits
        # 2^bits; at the 12-bit ceiling, clear with margin before the
        # decoder's table could outgrow the code space
        if next_code == (1 << code_size) and code_size < 12:
            code_size += 1
        elif code_size == 12 and next_code == (1 << 12) - 2:
            put(clear, code_size)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            code_size = 9
        w = bytes([b])
    if w:
        put(table[w], code_size)
    put(eoi, code_size)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """TIFF PackBits (Apple RLE): n in 0..127 -> copy n+1 literal bytes;
    n in -127..-1 -> repeat next byte 1-n times; -128 is a no-op."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        h = data[i]
        i += 1
        if h < 128:
            if i + h + 1 > n:
                raise ValueError("PackBits literal run truncated")
            out += data[i : i + h + 1]
            i += h + 1
        elif h > 128:
            if i >= n:
                raise ValueError("PackBits repeat run truncated")
            out += bytes([data[i]]) * (257 - h)
            i += 1
        # h == 128: no-op
    if len(out) < expected:
        raise ValueError(f"PackBits stream short: {len(out)} < {expected}")
    return bytes(out[:expected])


def _packbits_encode(row: bytes) -> bytes:
    """Greedy PackBits: runs of >=3 identical bytes become repeat packets."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        j = i
        while j + 1 < n and row[j + 1] == row[i] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 3:
            out += bytes([257 - run, row[i]])
            i = j + 1
            continue
        # literal run: until the next >=3 repeat or 128 bytes
        k = i
        while k < n and k - i < 128:
            if k + 2 < n and row[k] == row[k + 1] == row[k + 2]:
                break
            k += 1
        out += bytes([k - i - 1]) + row[i:k]
        i = k
    return bytes(out)
