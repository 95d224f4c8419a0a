"""K15 + W3 — PDF page-block segmentation + recursive XY-cut reading order.

North-star operator (BASELINE.json). Reference anchor: FR6 layout spec
("output should preserve reading order", >95% block accuracy —
ref OCR-X_Requirements_Specification.md:66-79); no code exists in the
reference, so the recursive XY-cut below is this engine's spec, locked by
golden fixtures and implemented independently in tests/reference_impl_pdf.py.

Input payload (fixtures): JSON ``{page_w, page_h, blocks:[{x,y,w,h,text}]}``
with blocks in arbitrary (shuffled) order.

Spec
----
XY-cut(region):
  1. If the region's blocks can be separated by a horizontal gap (an
     y-interval of width >= 1px covered by no block), split at ALL such gaps
     and recurse on the sub-regions top-to-bottom.
  2. Else, if separable by a vertical gap, split and recurse left-to-right.
  3. Else (no cut), emit blocks ordered by (y, x, text).
Reading order = depth-first emission; output text = block texts joined '\n'.
All geometry is vectorized numpy per document (no per-block Python beyond the
recursion frame).
"""

from __future__ import annotations

import json
import re

import numpy as np

MIN_GAP = 1.0


def _gaps(lo: np.ndarray, hi: np.ndarray) -> list[float]:
    """Cut coordinates: midpoints of maximal empty intervals between
    [lo,hi) spans (vectorized sweep over sorted interval endpoints)."""
    order = np.argsort(lo, kind="stable")
    lo_s, hi_s = lo[order], hi[order]
    run_hi = np.maximum.accumulate(hi_s)
    cuts = []
    for i in range(1, len(lo_s)):
        if lo_s[i] - run_hi[i - 1] >= MIN_GAP:
            cuts.append(float((lo_s[i] + run_hi[i - 1]) / 2.0))
    return cuts


def xy_cut_order(x: np.ndarray, y: np.ndarray, w: np.ndarray, h: np.ndarray) -> list[int]:
    """Return block indices in reading order (spec above)."""
    n = len(x)
    x2, y2 = x + w, y + h
    out: list[int] = []

    def rec(idx: np.ndarray) -> None:
        if idx.size == 0:
            return
        if idx.size == 1:
            out.append(int(idx[0]))
            return
        # 1. horizontal cut (split on y gaps)
        cuts = _gaps(y[idx], y2[idx])
        if cuts:
            edges = [-np.inf, *cuts, np.inf]
            for a, b in zip(edges[:-1], edges[1:]):
                rec(idx[(y[idx] > a) & (y[idx] < b)])
            return
        # 2. vertical cut (split on x gaps)
        cuts = _gaps(x[idx], x2[idx])
        if cuts:
            edges = [-np.inf, *cuts, np.inf]
            for a, b in zip(edges[:-1], edges[1:]):
                rec(idx[(x[idx] > a) & (x[idx] < b)])
            return
        # 3. leaf: (y, x) order
        order = np.lexsort((x[idx], y[idx]))
        out.extend(int(i) for i in idx[order])

    rec(np.arange(n))
    return out


# ---------------------------------------------------------------------------
# real PDF text layer: a minimal writer (valid xref'd PDFs for fixtures) and
# a content-stream parser (BT/ET blocks, Tf/Td/TD/Tm positioning, Tj/TJ
# shows, string escapes) — uncompressed streams, the text-layer subset
# (ref input spec: PDFs via page rendering,
# OCR-X_Component_Breakdown_OptionB.md:11-18; here the text layer is parsed
# directly, which is what an extraction pipeline wants when it exists)
# ---------------------------------------------------------------------------

PAGE_W, PAGE_H = 612.0, 792.0


def _pdf_escape(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def pdf_write(
    blocks: list[dict],
    page_w: float = PAGE_W,
    page_h: float = PAGE_H,
    compress: bool = False,
    predictor: int = 1,
    columns: int = 64,
) -> bytes:
    """Minimal valid single-page PDF with correct xref offsets. blocks =
    [{x, y, w?, h?, text, size?}] in TOP-LEFT reading coordinates (converted
    to the PDF's bottom-left origin on write). compress=True emits the
    content stream FlateDecode'd (zlib), as real exporters do; predictor=2
    (TIFF) or 10-15 (PNG rows, written as Up filters) additionally
    predictor-encodes it with /DecodeParms, the shape linearized PDFs use
    (content padded with stream whitespace to a row multiple)."""
    lines = []
    for b in blocks:
        size = float(b.get("size", 12))
        x = float(b["x"])
        y = page_h - float(b["y"]) - size  # top-left reading → PDF baseline
        lines.append(
            f"BT /F1 {size:g} Tf {x:g} {y:g} Td ({_pdf_escape(str(b['text']))}) Tj ET"
        )
    content = "\n".join(lines).encode("latin-1")
    filt = b""
    if compress:
        import zlib

        if predictor != 1:
            pad = (-len(content)) % columns
            content += b" " * pad  # whitespace between operators is inert
            rows = np.frombuffer(content, np.uint8).reshape(-1, columns)
            if predictor == 2:
                d = rows.astype(np.int64)
                d[:, 1:] = d[:, 1:] - d[:, :-1]
                content = (d & 0xFF).astype(np.uint8).tobytes()
            elif 10 <= predictor <= 15:
                up = np.vstack([np.zeros((1, columns), np.int64), rows[:-1]])
                enc = (rows.astype(np.int64) - up) & 0xFF
                content = np.hstack(
                    [np.full((rows.shape[0], 1), 2, np.uint8), enc.astype(np.uint8)]
                ).tobytes()
            else:
                raise ValueError(f"unsupported writer predictor {predictor}")
            filt = (
                f"/DecodeParms << /Predictor {predictor} /Columns {columns} >> "
            ).encode()
        content = zlib.compress(content)
        filt += b"/Filter /FlateDecode "
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {page_w:g} {page_h:g}] "
            "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"
        ).encode(),
        b"<< " + filt + b"/Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_off = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_off}\n%%EOF\n"
    ).encode()
    return bytes(out)


def pdf_write_objstm(
    blocks: list[dict],
    page_w: float = PAGE_W,
    page_h: float = PAGE_H,
    font_body: bytes = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
) -> bytes:
    """PDF 1.5-style fixture: the SAME document pdf_write produces, but
    with every non-stream object (catalog, page tree, page, font) packed
    into a FlateDecode'd /ObjStm and the table replaced by a binary
    cross-reference STREAM (/Type /XRef, W [1 2 2], type-2 entries
    pointing into the object stream) — the layout every modern exporter
    emits. Exercises _expand_objstm + the XRef body drop end to end."""
    import zlib

    lines = []
    for b in blocks:
        size = float(b.get("size", 12))
        x = float(b["x"])
        y = page_h - float(b["y"]) - size
        lines.append(
            f"BT /F1 {size:g} Tf {x:g} {y:g} Td ({_pdf_escape(str(b['text']))}) Tj ET"
        )
    content = zlib.compress("\n".join(lines).encode("latin-1"))

    packed = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {page_w:g} {page_h:g}] "
            "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"
        ).encode(),
        5: font_body,
    }
    offs, body = [], b""
    for num, obj in packed.items():
        offs.append((num, len(body)))
        body += obj + b"\n"
    header = (" ".join(f"{n} {o}" for n, o in offs) + "\n").encode()
    stm_plain = header + body
    first = len(header)
    stm = zlib.compress(stm_plain)

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}

    def emit(num: int, obj: bytes) -> None:
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode() + obj + b"\nendobj\n")

    emit(
        4,
        b"<< /Filter /FlateDecode /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream",
    )
    emit(
        6,
        (
            f"<< /Type /ObjStm /N {len(packed)} /First {first} "
            f"/Filter /FlateDecode /Length {len(stm)} >>\n"
        ).encode() + b"stream\n" + stm + b"\nendstream",
    )
    # xref stream entries, W [1 2 2]: (type, f2, f3) per object 0..7
    xref_pos = len(out)
    entries = []
    objstm_index = {n: i for i, (n, _) in enumerate(offs)}
    for num in range(8):
        if num == 0:
            entries.append((0, 0, 65535))
        elif num in objstm_index:
            entries.append((2, 6, objstm_index[num]))  # in ObjStm 6
        elif num in offsets:
            entries.append((1, offsets[num], 0))
        else:  # 7 = this xref stream itself
            entries.append((1, xref_pos, 0))
    xbody = b"".join(
        bytes([t]) + f2.to_bytes(2, "big") + f3.to_bytes(2, "big")
        for t, f2, f3 in entries
    )
    xstm = zlib.compress(xbody)
    emit(
        7,
        (
            "<< /Type /XRef /Size 8 /Root 1 0 R /W [1 2 2] /Index [0 8] "
            f"/Filter /FlateDecode /Length {len(xstm)} >>\n"
        ).encode() + b"stream\n" + xstm + b"\nendstream",
    )
    out.extend(f"startxref\n{xref_pos}\n%%EOF\n".encode())
    return bytes(out)


def pdf_write_cid(
    blocks: list[dict],
    page_w: float = PAGE_W,
    page_h: float = PAGE_H,
    kern_spaces: bool = True,
) -> bytes:
    """Single-page PDF the way real exporters with subset-embedded fonts
    write one: a Type0 /Identity-H font whose show strings are 2-byte CIDs
    in HEX strings, mapped back to text only through a /ToUnicode CMap
    (sequential CIDs per distinct character — the subset-font shape), and
    (kern_spaces=True) inter-word spaces encoded as -250 TJ kern
    adjustments instead of space glyphs. Exercises the hex-string, TJ-array
    and ToUnicode paths of pdf_parse_blocks end-to-end."""
    chars = sorted({c for b in blocks for c in str(b["text"]) if
                    not (kern_spaces and c == " ")})
    cid = {c: i + 1 for i, c in enumerate(chars)}

    def _hex(s: str) -> str:
        return "<" + "".join(f"{cid[c]:04X}" for c in s) + ">"

    lines = []
    for b in blocks:
        size = float(b.get("size", 12))
        x = float(b["x"])
        y = page_h - float(b["y"]) - size
        t = str(b["text"])
        if kern_spaces:
            shows = " -250 ".join(_hex(w) for w in t.split(" ") if w)
        else:
            shows = _hex(t)
        lines.append(f"BT /F1 {size:g} Tf {x:g} {y:g} Td [{shows}] TJ ET")
    content = "\n".join(lines).encode("latin-1")
    bfchars = "\n".join(
        f"<{cid[c]:04X}> <{c.encode('utf-16-be').hex().upper()}>" for c in chars
    )
    cmap = (
        "/CIDInit /ProcSet findresource begin\n"
        "12 dict begin begincmap\n"
        "/CMapName /Adobe-Identity-UCS def\n"
        "1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        f"{len(chars)} beginbfchar\n{bfchars}\nendbfchar\n"
        "endcmap CMapName currentdict /CMap defineresource pop end end\n"
    ).encode("latin-1")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {page_w:g} {page_h:g}] "
            "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"
        ).encode(),
        b"<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /AAAAAA+Synth "
        b"/Encoding /Identity-H /ToUnicode 6 0 R >>",
        b"<< /Length " + str(len(cmap)).encode()
        + b" >>\nstream\n" + cmap + b"\nendstream",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_off = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_off}\n%%EOF\n"
    ).encode()
    return bytes(out)


def _parse_pdf_string(s: str, i: int) -> tuple[str, int]:
    """Parse a PDF literal string starting at the '(' at index i; returns
    (decoded, index past the closing paren). Handles \\-escapes, octal and
    balanced nested parens (PDF spec 7.3.4.2)."""
    assert s[i] == "("
    i += 1
    out: list[str] = []
    depth = 1
    n = len(s)
    esc = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f",
           "(": "(", ")": ")", "\\": "\\"}
    while i < n:
        c = s[i]
        if c == "\\":
            nxt = s[i + 1] if i + 1 < n else ""
            if nxt in esc:
                out.append(esc[nxt])
                i += 2
            elif nxt in "01234567":
                # octal digits only — '\8'/'\9' fall through to the unknown-
                # escape branch (common readers keep the char literally;
                # isdigit() here once made int(...,8) raise and drop the text)
                j = i + 1
                while j < min(i + 4, n) and s[j] in "01234567":
                    j += 1
                out.append(chr(int(s[i + 1 : j], 8) & 0xFF))
                i = j
            elif nxt in "89":
                out.append(nxt)
                i += 2
            else:
                i += 2  # line continuation / unknown escape: drop
        elif c == "(":
            depth += 1
            out.append(c)
            i += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return "".join(out), i + 1
            out.append(c)
            i += 1
        else:
            out.append(c)
            i += 1
    raise ValueError("unterminated PDF string")


def _parse_hex_string(s: str, i: int) -> tuple[bytes, int]:
    """Parse a PDF hex string starting at the '<' at index i; returns
    (raw bytes, index past the closing '>'). Whitespace inside is ignored
    and an odd final digit is padded with 0 (PDF spec 7.3.4.3)."""
    assert s[i] == "<" and (i + 1 >= len(s) or s[i + 1] != "<")
    j = s.find(">", i + 1)
    if j < 0:
        raise ValueError("unterminated PDF hex string")
    digits = "".join(s[i + 1 : j].split())
    if not all(c in "0123456789abcdefABCDEF" for c in digits):
        raise ValueError("non-hex digit in PDF hex string")
    if len(digits) % 2:
        digits += "0"
    return bytes.fromhex(digits), j + 1


# --- ToUnicode CMaps (PDF 9.10.3): subset-embedded fonts show CIDs, not
# character codes — the CMap is the only route back to text. Parsed
# structurally from the (already-inflated) object graph: page /Resources
# /Font name → font object → /ToUnicode stream → bfchar/bfrange entries. ---

_MAX_CMAP_ENTRIES = 1 << 16  # a ToUnicode CMap maps at most the 64k CID space


def _parse_tounicode(body: str) -> tuple[int, dict[int, str]]:
    """(code length in bytes, {code -> unicode string}) from a ToUnicode
    CMap body. Handles begincodespacerange (code width), beginbfchar
    (<src> <dst> pairs) and beginbfrange (<lo> <hi> <dst> with the last
    UTF-16 unit incremented, or <lo> <hi> [<d0> <d1> ...] arrays)."""
    import re as _re

    def _units(hexs: str) -> str:
        b = bytes.fromhex(hexs if len(hexs) % 2 == 0 else hexs + "0")
        return b.decode("utf-16-be", "replace")

    codelen = 0
    cs = _re.search(r"begincodespacerange\s*<([0-9a-fA-F]+)>", body)
    if cs:
        codelen = max(1, len(cs.group(1)) // 2)
    mapping: dict[int, str] = {}
    for blk in _re.findall(r"beginbfchar(.*?)endbfchar", body, _re.S):
        for src, dst in _re.findall(
            r"<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>", blk
        ):
            if not codelen:
                codelen = max(1, len(src) // 2)
            if len(mapping) < _MAX_CMAP_ENTRIES:
                mapping[int(src, 16)] = _units(dst)
    _ARR = r"<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>\s*\[((?:\s*<[0-9a-fA-F]+>)+)\s*\]"
    for blk in _re.findall(r"beginbfrange(.*?)endbfrange", body, _re.S):
        # array form first, then STRIPPED from the block — three adjacent
        # hex items inside [<d0> <d1> <d2>] would otherwise false-match
        # the scalar <lo> <hi> <dst> pattern
        for lo, hi, arr in _re.findall(_ARR, blk):
            if not codelen:
                codelen = max(1, len(lo) // 2)
            dsts = _re.findall(r"<([0-9a-fA-F]+)>", arr)
            for k, d in enumerate(dsts):
                if int(lo, 16) + k > int(hi, 16):
                    break
                if len(mapping) < _MAX_CMAP_ENTRIES:
                    mapping[int(lo, 16) + k] = _units(d)
        for lo, hi, dst in _re.findall(
            r"<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>\s*<([0-9a-fA-F]+)>",
            _re.sub(_ARR, " ", blk),
        ):
            if not codelen:
                codelen = max(1, len(lo) // 2)
            base = _units(dst)
            span = min(int(hi, 16) - int(lo, 16), _MAX_CMAP_ENTRIES)
            for k in range(span + 1):
                if len(mapping) >= _MAX_CMAP_ENTRIES:
                    break
                # increment the final UTF-16 code unit (spec 9.10.3)
                mapping[int(lo, 16) + k] = base[:-1] + chr(
                    (ord(base[-1]) + k) & 0xFFFF
                ) if base else ""
    return (codelen or 1), mapping


# Adobe Glyph List (public, adobe-type-tools/agl-aglfn): the subset simple
# fonts actually reference from /Differences arrays — ASCII names are
# generated, the table below covers Latin-1 accents, typographic
# punctuation and the standard ligatures/symbols; uniXXXX / uXXXX[XX]
# names are decoded by pattern. Unknown names are skipped (no guessing).
_AGL_TABLE = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "exclamdown": "¡", "cent": "¢", "sterling": "£", "currency": "¤",
    "yen": "¥", "brokenbar": "¦", "section": "§", "dieresis": "¨",
    "copyright": "©", "ordfeminine": "ª", "guillemotleft": "«",
    "logicalnot": "¬", "registered": "®", "macron": "¯", "degree": "°",
    "plusminus": "±", "acute": "´", "mu": "µ", "paragraph": "¶",
    "periodcentered": "·", "cedilla": "¸", "ordmasculine": "º",
    "guillemotright": "»", "onequarter": "¼", "onehalf": "½",
    "threequarters": "¾", "questiondown": "¿", "multiply": "×",
    "divide": "÷", "germandbls": "ß",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "perthousand": "‰", "guilsinglleft": "‹",
    "guilsinglright": "›", "minus": "−", "fraction": "⁄",
    "florin": "ƒ", "Euro": "€", "trademark": "™",
    "fi": "ﬁ", "fl": "ﬂ", "dotlessi": "ı",
    "circumflex": "ˆ", "caron": "ˇ", "breve": "˘",
    "dotaccent": "˙", "ring": "˚", "ogonek": "˛",
    "tilde": "˜", "hungarumlaut": "˝",
    "OE": "Œ", "oe": "œ", "Scaron": "Š", "scaron": "š",
    "Zcaron": "Ž", "zcaron": "ž", "Ydieresis": "Ÿ",
    "Lslash": "Ł", "lslash": "ł",
}
# ASCII letters name themselves; Latin-1 letters follow base+accent
for _c in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ":
    _AGL_TABLE[_c] = _c
import unicodedata as _ud  # noqa: E402  (AGL table construction)

for _base, _code in [
    ("grave", "̀"), ("acute", "́"), ("circumflex", "̂"),
    ("tilde", "̃"), ("dieresis", "̈"), ("ring", "̊"),
    ("cedilla", "̧"),
]:
    for _l in "aeiouyncAEIOUYNC":
        _comp = _ud.normalize("NFC", _l + _code)
        if len(_comp) == 1:
            _AGL_TABLE[_l + _base] = _comp
for _n, _ch in [("ae", "æ"), ("AE", "Æ"), ("oslash", "ø"), ("Oslash", "Ø"),
                ("eth", "ð"), ("Eth", "Ð"), ("thorn", "þ"), ("Thorn", "Þ")]:
    _AGL_TABLE[_n] = _ch


def _glyph_to_unicode(name: str) -> str | None:
    """AGL glyph name → unicode string (uniXXXX / uXXXX[XX] by pattern,
    suffixed variants like 'a.sc' fall back to their base name)."""
    got = _AGL_TABLE.get(name)
    if got is not None:
        return got
    if name.startswith("uni") and len(name) >= 7:
        hexs = name[3:]
        if len(hexs) % 4 == 0 and all(c in "0123456789abcdefABCDEF" for c in hexs):
            return bytes.fromhex(hexs).decode("utf-16-be", "replace")
    if name.startswith("u") and 5 <= len(name) <= 7:
        hexs = name[1:]
        if all(c in "0123456789abcdefABCDEF" for c in hexs):
            cp = int(hexs, 16)
            if cp <= 0x10FFFF:
                return chr(cp)
    if "." in name:  # variant suffix (a.sc, one.oldstyle)
        return _glyph_to_unicode(name.split(".", 1)[0])
    return None


def _parse_differences(enc_body: str) -> dict[int, str]:
    """/Encoding << /Differences [ code /name /name code /name … ] >> →
    {byte code -> unicode}. Names the AGL subset can't resolve are skipped
    (the byte falls back to the base-encoding latin-1 path)."""
    import re as _re

    dm = _re.search(r"/Differences\s*\[(.*?)\]", enc_body, _re.S)
    if not dm:
        return {}
    mapping: dict[int, str] = {}
    code = 0
    for tok in _re.findall(r"(\d+)|/([^\s/\[\]<>()]+)", dm.group(1)):
        if tok[0]:
            code = int(tok[0])
        else:
            got = _glyph_to_unicode(tok[1])
            if got is not None and 0 <= code <= 255:
                mapping[code] = got
            code += 1
    return mapping


def _font_from_body(
    body: str, objs: dict[int, str]
) -> tuple[int, dict[int, str]] | None:
    """A font object's body → (codelen, code->unicode map), covering BOTH
    real-world text-mapping mechanisms: /ToUnicode CMap streams (CID/Type0
    subset fonts — takes precedence per PDF 9.10.2) and simple-font
    /Encoding /Differences arrays (glyph names resolved through the Adobe
    Glyph List subset). None when the font carries neither."""
    import re as _re

    tu = _re.search(r"/ToUnicode\s+(\d+)\s+0\s+R", body)
    if tu:
        cm = objs.get(int(tu.group(1)), "")
        sm = _re.search(r"stream\r?\n(.*?)\r?\n?endstream", cm, _re.S)
        codelen, mapping = _parse_tounicode(sm.group(1) if sm else cm)
        if mapping:
            return (codelen, mapping)
    em = _re.search(r"/Encoding\s+(\d+)\s+0\s+R", body)
    enc_body = objs.get(int(em.group(1)), "") if em else body
    diffs = _parse_differences(enc_body)
    if diffs:
        return (1, diffs)
    return None


def _scan_objects(text: str):
    """'N 0 obj … endobj' wrappers → ({num: body}, [(start, end, num)]
    sorted by start). Structural (no xref), the same tolerance contract as
    the block scan."""
    import re as _re

    objs: dict[int, str] = {}
    spans: list[tuple[int, int, int]] = []
    for m in _re.finditer(r"(\d+)\s+0\s+obj\b(.*?)\bendobj", text, _re.S):
        num = int(m.group(1))
        objs[num] = m.group(2)
        spans.append((m.start(), m.end(), num))
    spans.sort()
    return objs, spans


def _balanced_dict_body(text: str, i: int) -> str:
    """text[i:i+2] == '<<': inner body of the balanced dict (nested <<>>
    tracked; unterminated input degrades to the remaining tail)."""
    depth = 0
    j, n = i, len(text)
    while j < n - 1:
        two = text[j : j + 2]
        if two == "<<":
            depth += 1
            j += 2
        elif two == ">>":
            depth -= 1
            if depth == 0:
                return text[i + 2 : j]
            j += 2
        else:
            j += 1
    return text[i + 2 :]


def _font_cmaps(
    text: str, objs: dict[int, str] | None = None
) -> dict[str, tuple[int, dict[int, str]]]:
    """{resource font name (e.g. 'F1') -> font} pooled DOCUMENT-WIDE —
    the fallback table for page-less fixtures/truncated documents; pages
    that redeclare a name shadow it via _font_tables' per-stream scoping
    (last declaration wins here, which is exactly why this map alone is
    not enough for multi-page documents). Pass `objs` to reuse an
    already-computed object scan (the whole-document finditer is the
    expensive part on large PDFs)."""
    import re as _re

    if objs is None:
        objs, _ = _scan_objects(text)
    out: dict[str, tuple[int, dict[int, str]]] = {}
    for fm in _re.finditer(r"/Font\s*<<(.*?)>>", text, _re.S):
        for name, ref in _re.findall(r"/(\w+)\s+(\d+)\s+0\s+R", fm.group(1)):
            got = _font_from_body(objs.get(int(ref), ""), objs)
            if got is not None:
                out[name] = got
    return out


def _font_tables(text: str):
    """(global name map, {content-stream obj num: page's name map},
    object spans) — fonts are scoped to the PAGE whose /Resources declares
    them: real exporters reuse resource names (/F1) across pages for
    DIFFERENT fonts, so a document-wide name map would decode one page's
    shows through another page's CMap. /Contents may be a single ref or an
    array; /Resources may be inline or a ref; /Font likewise."""
    import re as _re

    objs, spans = _scan_objects(text)
    stream_map: dict[int, dict[str, tuple[int, dict[int, str]]]] = {}
    for num, body in objs.items():
        head = body.split("stream", 1)[0]
        if not _re.search(r"/Type\s*/Page\b", head):
            continue
        arr = _re.search(r"/Contents\s*\[(.*?)\]", body, _re.S)
        if arr:
            crefs = [int(x) for x in _re.findall(r"(\d+)\s+0\s+R", arr.group(1))]
        else:
            one = _re.search(r"/Contents\s+(\d+)\s+0\s+R", body)
            crefs = [int(one.group(1))] if one else []
        if not crefs:
            continue
        rm = _re.search(r"/Resources\s+(\d+)\s+0\s+R", body)
        if rm:
            res_body = objs.get(int(rm.group(1)), "")
        else:
            rm2 = _re.search(r"/Resources\s*<<", body)
            res_body = (
                _balanced_dict_body(body, rm2.end() - 2) if rm2 else None
            )
        if res_body is None:
            continue
        fm = _re.search(r"/Font\s*<<(.*?)>>", res_body, _re.S)
        if fm:
            font_pairs = fm.group(1)
        else:
            fr = _re.search(r"/Font\s+(\d+)\s+0\s+R", res_body)
            font_pairs = objs.get(int(fr.group(1)), "") if fr else ""
        page_fonts: dict[str, tuple[int, dict[int, str]]] = {}
        for name, ref in _re.findall(r"/(\w+)\s+(\d+)\s+0\s+R", font_pairs):
            got = _font_from_body(objs.get(int(ref), ""), objs)
            if got is not None:
                page_fonts[name] = got
        if page_fonts:
            for c in crefs:
                stream_map[c] = page_fonts
    return _font_cmaps(text, objs), stream_map, spans


def _decode_show(
    raw: bytes, font: tuple[int, dict[int, str]] | None
) -> str:
    """Show-string bytes → text. With a ToUnicode font: split into
    codelen-byte units and map (unmapped 1-byte units fall back to
    latin-1, unmapped multi-byte units to U+FFFD). Without: latin-1,
    the pre-CMap behavior that the golden fixtures lock."""
    if font is None:
        return raw.decode("latin-1")
    codelen, mapping = font
    out: list[str] = []
    for k in range(0, len(raw), codelen):
        unit = int.from_bytes(raw[k : k + codelen], "big")
        got = mapping.get(unit)
        if got is None:
            got = chr(unit) if unit < 256 else "�"
        out.append(got)
    return "".join(out)


# TJ adjustments are in thousandths of text-space units, subtracted from
# the advance; word processors encode inter-word gaps as kerns of about
# -250..-333 (a space glyph's width) instead of space characters. Anything
# past -180 is restored as a space; smaller magnitudes are letter kerning.
_TJ_SPACE_KERN = -180.0


def _parse_tj_array(
    text: str, i: int, font: tuple[int, dict[int, str]] | None
) -> tuple[str | None, int]:
    """Parse a content-stream array starting at the '[' at index i as a TJ
    operand: concatenate its show strings, restoring a space wherever a
    kern adjustment <= _TJ_SPACE_KERN separates them. Returns (joined text,
    index past ']') — joined text is '' for arrays with no strings (e.g. a
    dash-pattern '[2 1] 0 d'), None if the array is malformed/unterminated
    (caller falls back to byte-wise scanning)."""
    import re as _re

    num_re = _re.compile(_NUM)
    j = i + 1
    n = len(text)
    out: list[str] = []
    has_str = False
    while j < n:
        c = text[j]
        if c == "]":
            return ("".join(out) if has_str else ""), j + 1
        if c == "(":
            try:
                s, j = _parse_pdf_string(text, j)
            except ValueError:
                return None, i
            out.append(
                _decode_show(s.encode("latin-1", "replace"), font) if font else s
            )
            has_str = True
            continue
        if c == "<" and (j + 1 >= n or text[j + 1] != "<"):
            try:
                raw, j = _parse_hex_string(text, j)
            except ValueError:
                return None, i
            out.append(_decode_show(raw, font))
            has_str = True
            continue
        m = num_re.match(text, j)
        if m:
            if (
                float(m.group(0)) <= _TJ_SPACE_KERN
                and out
                and not out[-1].endswith(" ")
            ):
                out.append(" ")
            j = m.end()
            continue
        if c in " \t\r\n\f\0":
            j += 1
            continue
        return None, i  # not a TJ-shaped array (names, nested arrays, …)
    return None, i  # unterminated


_NUM = r"[-+]?(?:\d+\.?\d*|\.\d+)"
_MEDIABOX = None  # compiled lazily


def _png_predictor_unfilter(raw: bytes, bpp: int, rowlen: int) -> bytes:
    """Undo PNG row filters (types 0-4) over rows of `rowlen` bytes, each
    prefixed by a filter-type byte — the /Predictor 10-15 payload shape.
    Same math as the PNG decoder's scanline pass (cloud_engine.png_decode);
    widths here come from /DecodeParms (Columns × Colors) instead of IHDR."""
    stride = rowlen + 1
    if rowlen <= 0 or len(raw) % stride:
        raise ValueError(
            f"predictor stream length {len(raw)} is not a multiple of "
            f"row stride {stride}"
        )
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(-1, stride)
    width = rowlen // bpp
    if width * bpp != rowlen:
        raise ValueError(f"row length {rowlen} not divisible by bpp {bpp}")
    out = np.zeros((rows.shape[0], rowlen), dtype=np.uint8)
    for y in range(rows.shape[0]):
        line = rows[y, 1:].astype(np.int64)
        ft = int(rows[y, 0])
        up = out[y - 1].astype(np.int64) if y > 0 else np.zeros(rowlen, np.int64)
        if ft == 0:
            cur = line
        elif ft == 2:
            cur = (line + up) & 0xFF
        elif ft == 1:  # Sub: per-lane prefix sum (mod 256 distributes)
            cur = (np.cumsum(line.reshape(width, bpp), axis=0) & 0xFF).reshape(rowlen)
        elif ft in (3, 4):  # Average / Paeth: left-to-right per pixel
            cur = np.empty(rowlen, dtype=np.int64)
            up_px = up.reshape(width, bpp)
            line_px = line.reshape(width, bpp)
            cur_px = cur.reshape(width, bpp)
            prev = np.zeros(bpp, dtype=np.int64)
            prev_up = np.zeros(bpp, dtype=np.int64)
            for x in range(width):
                b = up_px[x]
                if ft == 3:
                    pred = (prev + b) >> 1
                else:
                    p = prev + b - prev_up
                    pa, pb, pc = np.abs(p - prev), np.abs(p - b), np.abs(p - prev_up)
                    pred = np.where(
                        (pa <= pb) & (pa <= pc), prev, np.where(pb <= pc, b, prev_up)
                    )
                prev = (line_px[x] + pred) & 0xFF
                cur_px[x] = prev
                prev_up = b
        else:
            raise ValueError(f"bad PNG predictor row filter type {ft}")
        out[y] = cur.astype(np.uint8)
    return out.tobytes()


def _predictor_unfilter(
    raw: bytes, predictor: int, colors: int = 1, bpc: int = 8, columns: int = 1
) -> bytes:
    """Undo a /DecodeParms predictor on an inflated FlateDecode stream:
    1 = none, 2 = TIFF horizontal differencing, 10-15 = PNG row filters
    (the per-row filter byte decides, so all six share one path)."""
    if predictor == 1:
        return raw
    if bpc != 8:
        raise ValueError(f"/BitsPerComponent {bpc} unsupported (8 only)")
    bpp = max(1, colors)
    rowlen = columns * bpp
    if predictor == 2:
        if rowlen <= 0 or len(raw) % rowlen:
            raise ValueError(
                f"predictor-2 stream length {len(raw)} is not a multiple of "
                f"row length {rowlen}"
            )
        arr = np.frombuffer(raw, np.uint8).reshape(-1, columns, bpp).astype(np.int64)
        return (np.cumsum(arr, axis=1) & 0xFF).astype(np.uint8).tobytes()
    if 10 <= predictor <= 15:
        return _png_predictor_unfilter(raw, bpp, rowlen)
    raise ValueError(f"unsupported /Predictor {predictor}")


def _iter_raw_streams(data: bytes):
    """Yield every `<< dict >> stream … endstream` object as
    (ddict:str, raw_body:bytes, dict_start:int, stream_end:int). The stream
    dict is found by balancing '<<'/'>>' backwards from each 'stream'
    keyword (so nested dicts like /DecodeParms << ... >> are spanned
    correctly); the body is sliced by the dict's direct /Length when
    present — compressed bytes may legally contain b'endstream' — falling
    back to the endstream scan only for a missing/indirect /Length. Every
    delimited body is consumed, so dict-like bytes INSIDE a binary stream
    (a DCTDecode JPEG, say) can never be misread as a new stream."""
    import re as _re

    pos = 0
    for m in _re.finditer(rb">>\s*stream\r?\n", data):
        if m.start() < pos:
            continue  # inside an already-consumed stream body
        # balance backwards from the closing '>>' to the matching '<<'
        k, depth = m.start(), 1
        while k > 0 and depth:
            k -= 1
            two = data[k : k + 2]
            if two == b">>":
                depth += 1
                k -= 1
            elif two == b"<<":
                depth -= 1
                if depth:
                    k -= 1
        if depth:
            continue  # no dict start: not a stream dict
        ddict = data[k : m.start() + 2].decode("latin-1", "replace")
        body_start = m.end()
        raw = stream_end = None
        lm = _re.search(r"/Length\s+(\d+)(\s+\d+\s+R)?", ddict)
        if lm and not lm.group(2):
            L = int(lm.group(1))
            em = _re.match(rb"(?:\r\n|\r|\n)?\s*endstream", data[body_start + L :])
            if em:
                raw = data[body_start : body_start + L]
                stream_end = body_start + L + em.end()
        if raw is None:  # /Length absent, indirect, or inconsistent
            end = data.find(b"endstream", body_start)
            if end < 0:
                continue
            raw = data[body_start:end]
            # the EOL before 'endstream' is not part of the stream data
            if raw.endswith(b"\r\n"):
                raw = raw[:-2]
            elif raw.endswith((b"\n", b"\r")):
                raw = raw[:-1]
            stream_end = end + len(b"endstream")
        yield ddict, raw, k, stream_end
        pos = stream_end


def _inflate_streams(data: bytes) -> bytes:
    """Decompress every plain /FlateDecode stream in place (zlib — the
    stdlib filter real exporters use), undoing /DecodeParms predictors
    (TIFF 2 and PNG 10-15). Filter CHAINS ([/ASCII85Decode /FlateDecode])
    are left in the document and caught by the caller's residual check."""
    import re as _re
    import zlib

    out = []
    pos = 0
    for ddict, raw, k, stream_end in _iter_raw_streams(data):
        fm = _re.search(r"/Filter\s*(/\w+|\[[^\]]*\])", ddict)
        if not fm or _re.findall(r"/(\w+)", fm.group(1)) != ["FlateDecode"]:
            continue  # not (plain) Flate: chains hit the caller's residual check
        try:
            inflated = zlib.decompress(raw)
        except zlib.error as e:
            raise ValueError(f"FlateDecode stream failed to inflate: {e}")
        pm = _re.search(
            r"/DecodeParm?s\s*\[?\s*(?:null\s+)?<<([^>]*)>>", ddict
        )
        if pm is None and _re.search(r"/DecodePar", ddict):
            # /DecodeParms present but not an inline dict (indirect ref
            # '7 0 R', or a form this parser can't see): un-predicted
            # bytes would parse as garbage operators — fail to the per-doc
            # error envelope instead of silently garbling the text
            raise ValueError(
                "unsupported /DecodeParms form (indirect reference?): "
                + ddict.strip()[:120]
            )
        if pm:
            pd = pm.group(1)

            def _geti(name: str, default: int) -> int:
                g = _re.search(rf"/{name}\s+(\d+)", pd)
                return int(g.group(1)) if g else default

            inflated = _predictor_unfilter(
                inflated,
                _geti("Predictor", 1),
                _geti("Colors", 1),
                _geti("BitsPerComponent", 8),
                _geti("Columns", 1),
            )
        out.append(data[pos:k])
        tm = _re.search(r"/Type\s*/(\w+)", ddict)
        typ = tm.group(1) if tm else None
        if typ == "ObjStm":
            # PDF 1.5+ object stream: non-stream objects (page trees, font
            # dicts, encodings) live INSIDE this compressed container —
            # expand them to top-level 'N 0 obj … endobj' blocks so the
            # structural scan sees them like any other object
            out.append(_expand_objstm(ddict, inflated))
        elif typ == "XRef":
            # cross-reference stream: binary table the structural scan
            # never reads — drop the body so its bytes can't be misread
            # as text operators or object wrappers
            out.append(b"<< >>")
        else:
            # the parser scans structurally; the dict only needs the
            # filter gone
            out.append(b"<< >>\nstream\n" + inflated + b"\nendstream")
        pos = stream_end
    out.append(data[pos:])
    return b"".join(out)


def _expand_objstm(ddict: str, inflated: bytes) -> bytes:
    """Expand a decoded /ObjStm body (ISO 32000-1 §7.5.7): the first
    /First bytes hold /N whitespace-separated (objnum, offset) integer
    pairs, offsets relative to /First; object bodies follow back to back
    (object streams cannot contain streams). Malformed headers raise to
    the caller's per-document error envelope."""
    import re as _re

    nm = _re.search(r"/N\s+(\d+)", ddict)
    fm = _re.search(r"/First\s+(\d+)", ddict)
    if not nm or not fm:
        raise ValueError("ObjStm missing /N or /First: " + ddict.strip()[:120])
    n, first = int(nm.group(1)), int(fm.group(1))
    try:
        ints = [int(x) for x in inflated[:first].split()]
    except ValueError as e:
        raise ValueError(f"ObjStm header is not integer pairs: {e}")
    pairs = list(zip(ints[0::2], ints[1::2]))[:n]
    if len(pairs) < n:
        raise ValueError(
            f"ObjStm header holds {len(pairs)} pairs, /N says {n}"
        )
    blocks: list[bytes] = []
    for i, (num, off) in enumerate(pairs):
        end = first + pairs[i + 1][1] if i + 1 < len(pairs) else len(inflated)
        body = inflated[first + off : end].strip()
        blocks.append(b"%d 0 obj\n" % num + body + b"\nendobj\n")
    return b"".join(blocks)


def _content_page_spans(text: str) -> list[tuple[int, int, int]]:
    """[(start, end, page_idx)] for every content-stream object span, with
    page_idx in PAGE-TREE order (catalog -> /Pages /Kids walk, nested trees
    and cycles guarded; fallback: /Type /Page objects in document order).
    Multi-page reading order depends on this: content streams appear in the
    file in ARBITRARY object order, and a single XY-cut over un-offset
    per-page coordinates interleaves pages."""
    import re as _re

    objs, spans = _scan_objects(text)
    pages: list[int] = []
    seen: set[int] = set()

    def walk(num: int, depth: int = 0) -> None:
        if depth > 64 or num in seen or num not in objs:
            return
        seen.add(num)
        body = objs[num]
        head = body.split("stream", 1)[0]
        if _re.search(r"/Type\s*/Pages\b", head):
            km = _re.search(r"/Kids\s*\[(.*?)\]", head, _re.S)
            if km:
                for r in _re.findall(r"(\d+)\s+0\s+R", km.group(1)):
                    walk(int(r), depth + 1)
        elif _re.search(r"/Type\s*/Page\b", head):
            pages.append(num)

    cat = next(
        (
            n
            for n, b in objs.items()
            if _re.search(r"/Type\s*/Catalog\b", b.split("stream", 1)[0])
        ),
        None,
    )
    if cat is not None:
        pm = _re.search(r"/Pages\s+(\d+)\s+0\s+R", objs[cat])
        if pm:
            walk(int(pm.group(1)))
    if not pages:
        pages = [
            n
            for _, _, n in spans
            if _re.search(r"/Type\s*/Page\b", objs[n].split("stream", 1)[0])
        ]
    content_page: dict[int, int] = {}
    for idx, pnum in enumerate(pages):
        head = objs[pnum].split("stream", 1)[0]
        arr = _re.search(r"/Contents\s*\[(.*?)\]", head, _re.S)
        if arr:
            crefs = [int(x) for x in _re.findall(r"(\d+)\s+0\s+R", arr.group(1))]
        else:
            one = _re.search(r"/Contents\s+(\d+)\s+0\s+R", head)
            crefs = [int(one.group(1))] if one else []
        for c in crefs:
            content_page.setdefault(c, idx)
    return [(s, e, content_page[n]) for s, e, n in spans if n in content_page]


def pdf_parse_blocks(data: bytes | str) -> tuple[list[dict], float, float]:
    """Text blocks from a PDF's content streams: scan BT…ET text objects,
    track Tf (size) and Td/TD/Tm positioning, collect Tj/TJ shows. Returns
    (blocks in TOP-LEFT reading coords [{x,y,w,h,text}], page_w, page_h) —
    page k's blocks are offset by k*(page_h + 2) so downstream XY-cut
    orders pages sequentially instead of interleaving them.
    Tolerates missing/garbled xref (the scan is structural). Plain
    FlateDecode'd streams are inflated via stdlib zlib; filter chains and
    predictors raise ValueError."""
    import re as _re

    if isinstance(data, str):
        data = data.encode("latin-1")
    if not data.lstrip()[:5] == b"%PDF-":
        raise ValueError("not a PDF")
    if _re.search(rb"/Encrypt\s*(\d+\s+\d+\s*R|<<)", data):
        # encrypted document: decrypt in place when the standard security
        # handler opens with an empty user/owner password (the dominant
        # "permissions-only" case on a real crawl — see pdf_crypt docstring).
        # Password-locked or unsupported handlers raise pdf_crypt's NAMED
        # ValueError envelopes, keeping the per-document error-row contract.
        from ocr_spark.operators.pdf_crypt import decrypt_pdf

        data = decrypt_pdf(data)
    if b"/FlateDecode" in data:
        data = _inflate_streams(data)
    text = data.decode("latin-1")
    if "/FlateDecode" in text:
        raise ValueError(
            "unsupported compressed-stream variant (filter chain); only a "
            "plain /FlateDecode filter is handled — re-export or rasterize"
        )
    page_w, page_h = PAGE_W, PAGE_H
    mb = _re.search(
        rf"/MediaBox\s*\[\s*({_NUM})\s+({_NUM})\s+({_NUM})\s+({_NUM})\s*\]", text
    )
    if mb:
        x0, y0, x1, y1 = (float(mb.group(i)) for i in range(1, 5))
        page_w, page_h = x1 - x0, y1 - y0
    blocks: list[dict] = []
    # font code→unicode maps (ToUnicode CMaps for CID fonts, /Differences
    # for simple fonts): parsed once per document, looked up per Tf by
    # resource name WITHIN the enclosing content stream's page scope (two
    # pages reusing /F1 for different fonts must not clobber each other);
    # the document-wide name map is only the page-less fallback
    if "/ToUnicode" in text or "/Differences" in text:
        fonts, stream_fonts, obj_spans = _font_tables(text)
    else:
        fonts, stream_fonts, obj_spans = {}, {}, []
    span_starts = [s for s, _, _ in obj_spans]
    # multi-page: offset each page's y by its tree index so the XY-cut
    # orders pages sequentially (the +2 > MIN_GAP guarantees a cut between
    # a page's bottom-edge block and the next page's top-edge block).
    # The cheap findall guard skips the object re-scan on single-page
    # documents — the overwhelmingly common case on the extract hot path.
    pspans = (
        _content_page_spans(text)
        if len(_re.findall(r"/Type\s*/Page\b", text)) > 1
        else []
    )
    if pspans and max(p for _, _, p in pspans) > 0:
        import bisect as _bisect

        pstarts = [s for s, _, _ in pspans]

        def _y_off(pos: int) -> float:
            k = _bisect.bisect_right(pstarts, pos) - 1
            if k >= 0:
                s0, e0, idx = pspans[k]
                if pos < e0:
                    return idx * (page_h + 2.0)
            return 0.0

    else:

        def _y_off(pos: int) -> float:
            return 0.0

    def _font_at(pos: int, name: str):
        if stream_fonts:
            import bisect

            k = bisect.bisect_right(span_starts, pos) - 1
            if k >= 0:
                _, e0, onum = obj_spans[k]
                if pos < e0:
                    pf = stream_fonts.get(onum)
                    if pf is not None and name in pf:
                        return pf[name]
        return fonts.get(name)
    # one LINEAR pass with an in-text-object state flag: string literals are
    # consumed by the string parser wherever they appear, so 'ET'/'BT' INSIDE
    # a string can neither truncate a text object (BUDGET, SECRET…) nor
    # fabricate one — the former find("ET") scan failed exactly there
    tok_re = _re.compile(rf"({_NUM})|(/[A-Za-z0-9]+)|(BT|ET|Tm|TL|T[a-zA-Z*])")
    n = len(text)
    in_bt = False
    size = 12.0
    tx = ty = leading = 0.0
    cur_font: tuple[int, dict[int, str]] | None = None
    last_name = ""
    stack: list[float] = []

    def _emit(s: str) -> None:
        blocks.append(
            {
                "x": tx,
                "y": page_h - ty - size + _y_off(j),
                "w": max(1.0, 0.5 * size * len(s)),
                "h": size,
                "text": s,
            }
        )

    # ' and " are move-to-next-line-and-show (PDF 9.4.3, TeX output):
    # the T* advance applies BEFORE the show, so peek past the string
    quote_re = _re.compile(r"[ \t\r\n\f\0]*(['\"])")

    def _next_line_if_quoted(k: int) -> int:
        nonlocal ty
        qm = quote_re.match(text, k)
        if qm:
            ty -= leading
            return qm.end()
        return k

    j = 0
    while j < n:
        c = text[j]
        if c == "(":
            try:
                s, j = _parse_pdf_string(text, j)
            except ValueError:
                j += 1  # unbalanced paren in non-text data: skip the byte
                continue
            if in_bt:
                j = _next_line_if_quoted(j)
                _emit(
                    _decode_show(s.encode("latin-1", "replace"), cur_font)
                    if cur_font
                    else s
                )
            continue
        if c == "<" and (j + 1 >= n or text[j + 1] != "<"):
            try:
                raw, j = _parse_hex_string(text, j)
            except ValueError:
                j += 1  # '<' in non-string data (e.g. binary): skip
                continue
            if in_bt and raw:  # '' would be the tail of a '<< >>' dict
                j = _next_line_if_quoted(j)
                _emit(_decode_show(raw, cur_font))
            continue
        if c == "[" and in_bt:
            # TJ array: strings + kern adjustments → ONE show at the
            # current position, restoring spaces the exporter encoded as
            # advance kerns (see _TJ_SPACE_KERN)
            parts, k = _parse_tj_array(text, j, cur_font)
            if parts is not None:
                j = k
                if parts:
                    _emit(parts)
                continue
            j += 1
            continue
        m = tok_re.match(text, j)
        if not m:
            j += 1
            continue
        tok = m.group(0)
        # operator tokens must stand alone (not part of an identifier)
        if m.group(3) is not None and (
            (m.end() < n and (text[m.end()].isalnum() or text[m.end()] == "*"))
            or (j > 0 and text[j - 1].isalnum())
        ):
            j += 1
            continue
        j = m.end()
        if m.group(1) is not None:
            stack.append(float(tok))
            continue
        if m.group(2) is not None:  # /Name operand
            last_name = tok[1:]
            continue
        if tok == "BT":
            in_bt = True
            tx = ty = leading = 0.0
            stack.clear()
        elif tok == "ET":
            in_bt = False
            stack.clear()
        elif not in_bt:
            stack.clear()
        elif tok == "Tf" and stack:
            size = stack[-1]
            cur_font = _font_at(j, last_name)
            stack.clear()
        elif tok == "Td" and len(stack) >= 2:
            tx += stack[-2]
            ty += stack[-1]
            stack.clear()
        elif tok == "TD" and len(stack) >= 2:
            leading = -stack[-1]
            tx += stack[-2]
            ty += stack[-1]
            stack.clear()
        elif tok == "Tm" and len(stack) >= 6:
            tx, ty = stack[-2], stack[-1]
            stack.clear()
        elif tok == "TL" and stack:
            leading = stack[-1]
            stack.clear()
        elif tok == "T*":
            ty -= leading
            stack.clear()
        else:  # Tj/TJ and any other T-op (Tc/Tw/Tz/Ts/Tr): operands consumed
            stack.clear()
    return blocks, page_w, page_h


def _pdf_text_string(raw: bytes) -> str:
    """A PDF text-string per §7.9.2.2: UTF-16BE with BOM, else
    PDFDocEncoding (latin-1 is the right superset for the printable part)."""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", errors="replace")
    if raw[:3] == b"\xef\xbb\xbf":  # PDF 2.0 allows UTF-8 with BOM
        return raw[3:].decode("utf-8", errors="replace")
    return raw.decode("latin-1")


def _pdf_date_iso(s: str) -> str | None:
    """'D:YYYYMMDDHHmmSS+HH'mm'' (§7.9.4) -> ISO 8601 (fields optional)."""
    m = re.match(
        r"D:(\d{4})(\d{2})?(\d{2})?(\d{2})?(\d{2})?(\d{2})?"
        r"(?:([+\-Z])(?:(\d{2})'?(\d{2})?'?)?)?",
        s.strip(),
    )
    if not m:
        return None
    y, mo, d, hh, mm, ss, tzs, tzh, tzm = m.groups()
    out = f"{y}-{mo or '01'}-{d or '01'}T{hh or '00'}:{mm or '00'}:{ss or '00'}"
    if tzs == "Z":
        out += "+00:00"
    elif tzs in ("+", "-") and tzh:
        out += f"{tzs}{tzh}:{tzm or '00'}"
    return out


def pdf_info(data: bytes) -> dict:
    """Document metadata from the trailer /Info dictionary (§14.3.3):
    {title, author, subject, creator, date (ISO), moddate (ISO)} — any
    subset may be None. Structural: the last trailer's /Info wins
    (incremental updates), indirect or inline; stream bodies are masked
    before scanning so binary payloads can't fake a trailer key. Never
    raises — metadata absence is normal, not an error."""
    from ocr_spark.operators.pdf_crypt import (
        _dict_entries,
        _mask_stream_bodies,
        _scan_dict,
    )

    try:
        text = _mask_stream_bodies(data).decode("latin-1")
        matches = list(
            re.finditer(r"/Info\s*(?:(\d+)\s+(\d+)\s+R|(?=<<))", text)
        )
        if not matches:
            return {}
        m = matches[-1]
        if m.group(1) is not None:
            om = None
            for om_c in re.finditer(
                rf"(?<![0-9]){int(m.group(1))}\s+{int(m.group(2))}\s+obj\b",
                text,
            ):
                om = om_c
            if om is None:
                return {}
            k = text.find("<<", om.end())
            if k < 0:
                return {}
            body, _ = _scan_dict(text, k)
        else:
            body, _ = _scan_dict(text, m.end())
        entries = _dict_entries(body)
        out: dict = {}
        for key, field in (
            ("Title", "title"), ("Author", "author"), ("Subject", "subject"),
            ("Creator", "creator"),
        ):
            kv = entries.get(key)
            if kv and kv[0] == "str":
                v = _pdf_text_string(kv[1]).strip()
                out[field] = v or None
        for key, field in (("CreationDate", "date"), ("ModDate", "moddate")):
            kv = entries.get(key)
            if kv and kv[0] == "str":
                out[field] = _pdf_date_iso(_pdf_text_string(kv[1]))
        return out
    except ValueError:
        return {}


def extract_pdf_text(payload: str) -> str:
    """Per-document K15/W3: layout JSON *or* real PDF bytes-as-latin1 →
    blocks → XY-cut → join texts (payload kind sniffed)."""
    if payload and payload.lstrip().startswith("%PDF-"):
        blocks, _, _ = pdf_parse_blocks(payload)
    else:
        try:
            page = json.loads(payload or "{}")
            blocks = page.get("blocks", [])
        except (json.JSONDecodeError, AttributeError):
            return ""
    if not blocks:
        return ""
    x = np.array([float(b["x"]) for b in blocks])
    y = np.array([float(b["y"]) for b in blocks])
    w = np.array([float(b["w"]) for b in blocks])
    h = np.array([float(b["h"]) for b in blocks])
    order = xy_cut_order(x, y, w, h)
    return "\n".join(str(blocks[i].get("text", "")) for i in order)


# ---------------------------------------------------------------------------
# embedded image XObjects — the scanned-document OCR feed
#
# The reference is an OCR app: its primary input is a scanned page, which on
# the web almost always travels INSIDE a PDF as an image XObject (ref
# ocr_workflow_orchestrator.py:153-178 loads whatever the user points at —
# a crawl's scanned PDFs are exactly that surface). `pdf_images` pulls every
# /Subtype /Image stream out of a PDF:
#
#   * DCTDecode   — the body IS a baseline/progressive JFIF; it passes
#     through verbatim (format='jpeg') and the repo's own jpeg decoder
#     (image_codecs.jpeg_decode) handles pixels downstream;
#   * FlateDecode / unfiltered — inflate, undo /DecodeParms predictors,
#     then reshape by /Width /Height /BitsPerComponent /ColorSpace; 1-bit
#     scans (CCITT-class bilevel masters re-saved as Flate, /ImageMask)
#     unpack to 0/255 grayscale honoring /Decode [1 0] inversion; output
#     is re-encoded with the repo's PNG writer (format='png') so every
#     downstream consumer sees a self-describing asset;
#   * CCITTFaxDecode — REAL G3/G4 fax decode (fax_codec.py, ITU-T
#     T.4/T.6): /K selects G4 (<0), 1-D MH (0) or G3 2-D (>0); /Columns,
#     /Rows, /BlackIs1, /EncodedByteAlign and /Decode [1 0] honored;
#     output re-encoded as PNG like every other raster path;
#   * JBIG2Decode — REAL decode (jbig2_codec.py, ITU-T T.88): generic
#     regions (MQ coder, templates 0-3, TPGDON, MMR-over-T.6), symbol
#     dictionary + text regions, and pattern-dictionary + halftone
#     regions; Huffman/refinement streams keep named error rows;
#   * JPXDecode — REAL JPEG2000 decode (jp2_codec.py, ITU-T T.800:
#     MQ-coded T1 passes, tag-tree packets, reversible 5/3 DWT + RCT,
#     irreversible 9/7 DWT + E.1 dequantization + ICT, JP2 boxes);
#     multi-tile(-part) streams keep named per-image error rows.
#
# Spark surface `pdf_image_assets`: ONE Arrow-batched mapInPandas stage
# over (doc_id, payload) emitting (doc_id, media_ref, format, width,
# height, content, error) — media_ref = '<doc_id>#img<i>' composes with
# the media sidecar (extract_documents(media_sidecar=...)), multimodal
# image_features/resize, and image_phash near-dup, closing the loop:
# crawl PDF -> embedded scan -> OCR kernels.
# ---------------------------------------------------------------------------


def _pdf_colorspace_colors(ddict: str) -> int:
    """Component count from /ColorSpace: DeviceRGB=3, DeviceCMYK=4, else 1
    (DeviceGray, CalGray, Indexed, ImageMask, unresolvable indirects)."""
    import re as _re

    cm = _re.search(r"/ColorSpace\s*(?:\[\s*)?/(\w+)", ddict)
    name = cm.group(1) if cm else ""
    if name in ("DeviceRGB", "CalRGB"):
        return 3
    if name == "DeviceCMYK":
        return 4
    if name == "ICCBased":
        nm = _re.search(r"/N\s+(\d+)", ddict)
        return int(nm.group(1)) if nm else 1
    return 1


def pdf_images(data: bytes) -> list[dict]:
    """All /Subtype /Image XObjects of one PDF. Returns
    [{index, width, height, format, content, error}] — per-image envelope:
    a malformed or unsupported image yields an error row, the others
    survive. format 'jpeg' bodies pass through; Flate/raw samples are
    re-encoded as PNG with the repo's writer."""
    import re as _re
    import zlib

    from ocr_spark.operators.cloud_engine import png_encode

    if isinstance(data, str):
        data = data.encode("latin-1", "replace")
    if _re.search(rb"/Encrypt\s*(\d+\s+\d+\s*R|<<)", data):
        # same transparent-decrypt contract as pdf_parse_blocks: image
        # XObject bodies are ciphertext until the standard handler runs
        from ocr_spark.operators.pdf_crypt import decrypt_pdf

        data = decrypt_pdf(data)
    out: list[dict] = []
    idx = 0
    for ddict, raw, _k, _end in _iter_raw_streams(data):
        if not _re.search(r"/Subtype\s*/Image\b", ddict):
            continue
        i = idx
        idx += 1
        row = {
            "index": i, "width": None, "height": None,
            "format": None, "content": None, "error": None,
        }
        out.append(row)
        try:
            wm = _re.search(r"/Width\s+(\d+)", ddict)
            hm = _re.search(r"/Height\s+(\d+)", ddict)
            if not wm or not hm:
                raise ValueError("image missing /Width or /Height")
            w, h = int(wm.group(1)), int(hm.group(1))
            if w <= 0 or h <= 0 or w * h > 64_000_000:
                raise ValueError(f"implausible image dims {w}x{h}")
            row["width"], row["height"] = w, h
            fm = _re.search(r"/Filter\s*(/\w+|\[[^\]]*\])", ddict)
            filters = _re.findall(r"/(\w+)", fm.group(1)) if fm else []
            if filters and filters[-1] == "DCTDecode" and len(filters) == 1:
                if raw[:2] != b"\xff\xd8":
                    raise ValueError("DCTDecode body is not JPEG (no SOI)")
                row["format"], row["content"] = "jpeg", bytes(raw)
                continue
            if filters == ["CCITTFaxDecode"]:
                # real G3/G4 fax decode (ITU-T T.4/T.6 via fax_codec);
                # PDF 1.7 §7.4.6 parameter semantics
                from ocr_spark.operators.fax_codec import (
                    g3_1d_decode,
                    g3_2d_decode,
                    g4_decode,
                )

                pm = _re.search(
                    r"/DecodeParm?s\s*\[?\s*(?:null\s+)?<<([^>]*)>>", ddict
                )
                pd = pm.group(1) if pm else ""

                def _cc(name: str, default: int) -> int:
                    g = _re.search(rf"/{name}\s+(-?\d+)", pd)
                    return int(g.group(1)) if g else default

                k = _cc("K", 0)
                cols = _cc("Columns", 1728)
                # /Rows 0 is the spec DEFAULT ("not predetermined"), not a
                # zero-row image — fall back to /Height
                n_rows = _cc("Rows", 0) or h or None
                balign = bool(_re.search(r"/EncodedByteAlign\s+true", pd))
                if k < 0:
                    bits = g4_decode(bytes(raw), cols, n_rows, byte_align=balign)
                elif k == 0:
                    bits = g3_1d_decode(
                        bytes(raw), cols, n_rows, byte_align=balign
                    )
                else:
                    # /EndOfLine defaults to false even for K>0: EOL-less
                    # tag-bit-only streams are legal and common
                    bits = g3_2d_decode(bytes(raw), cols, n_rows,
                                        require_eol=False)
                # filter output: 0 = black unless /BlackIs1 true; the
                # fax coding domain is 1 = black
                if not _re.search(r"/BlackIs1\s+true", pd):
                    bits = 1 - bits
                # bits are now DeviceGray samples (1 = white); /Decode
                # [1 0] inverts
                if _re.search(r"/Decode\s*\[\s*1[\s.0]*0", ddict):
                    bits = 1 - bits
                img = (bits * 255).astype(np.uint8)
                row["format"], row["content"] = "png", png_encode(img)
                continue
            if filters == ["JBIG2Decode"]:
                # generic-region JBIG2 (jbig2_codec, ITU-T T.88); symbol/
                # text-coded streams degrade to the named per-image
                # envelope below
                from ocr_spark.operators.jbig2_codec import jbig2_decode

                if _re.search(r"/JBIG2Globals\b", ddict):
                    # globals carry shared (symbol-dictionary) segments in
                    # a separate indirect stream; decoding the data part
                    # alone would be silently wrong — fail fast, named
                    raise ValueError(
                        "JBIG2Globals (shared symbol segments) not supported"
                    )
                bits = jbig2_decode(bytes(raw))
                if bits.shape != (h, w):
                    bits = bits[:h, :w]
                    if bits.shape != (h, w):
                        raise ValueError(
                            f"JBIG2 page {bits.shape} smaller than "
                            f"/Width /Height {(h, w)}"
                        )
                # JBIG2 1 = black; /Decode [1 0] inverts
                if _re.search(r"/Decode\s*\[\s*1[\s.0]*0", ddict):
                    bits = 1 - bits
                img = ((1 - bits) * 255).astype(np.uint8)
                row["format"], row["content"] = "png", png_encode(img)
                continue
            if filters == ["JPXDecode"]:
                # JPEG2000 (jp2_codec, ITU-T T.800): the reversible 5/3
                # AND irreversible 9/7 (quantized) profiles, raw
                # codestream or JP2 box file; the stream self-describes
                # per PDF §7.4.9 (dict BPC/ColorSpace are advisory).
                # Multi-tile(-part) streams degrade to named envelopes
                from ocr_spark.operators.jp2_codec import jp2_decode

                img = jp2_decode(bytes(raw))
                # the codestream is authoritative for geometry (PDF
                # §7.4.9); reconcile the row metadata with it
                row["width"], row["height"] = int(img.shape[1]), int(img.shape[0])
                if img.ndim == 2 and _re.search(
                    r"/Decode\s*\[\s*1[\s.0]*0", ddict
                ):
                    img = 255 - img
                row["format"], row["content"] = "png", png_encode(img)
                continue
            if filters not in ([], ["FlateDecode"]):
                raise ValueError(f"unsupported image filter chain {filters}")
            body = raw
            if filters == ["FlateDecode"]:
                body = zlib.decompress(raw)
                pm = _re.search(
                    r"/DecodeParm?s\s*\[?\s*(?:null\s+)?<<([^>]*)>>", ddict
                )
                if pm:
                    pd = pm.group(1)

                    def _geti(name: str, default: int) -> int:
                        g = _re.search(rf"/{name}\s+(\d+)", pd)
                        return int(g.group(1)) if g else default

                    pred = _geti("Predictor", 1)
                    if pred != 1:
                        body = _predictor_unfilter(
                            body, pred, _geti("Colors", 1),
                            _geti("BitsPerComponent", 8), _geti("Columns", w),
                        )
                elif _re.search(r"/DecodePar", ddict):
                    raise ValueError("unsupported /DecodeParms form")
            bm = _re.search(r"/BitsPerComponent\s+(\d+)", ddict)
            mask = bool(_re.search(r"/ImageMask\s+true", ddict))
            bpc = int(bm.group(1)) if bm else (1 if mask else 8)
            colors = 1 if mask else _pdf_colorspace_colors(ddict)
            if bpc == 1 and colors == 1:
                stride = (w + 7) // 8
                if len(body) < stride * h:
                    raise ValueError(
                        f"1-bit image body {len(body)} < {stride * h} bytes"
                    )
                bits = np.unpackbits(
                    np.frombuffer(body[: stride * h], np.uint8).reshape(h, stride),
                    axis=1,
                )[:, :w]
                # /Decode [1 0] (and ImageMask's default-paint sense) inverts
                inv = bool(_re.search(r"/Decode\s*\[\s*1[\s.0]*0", ddict))
                img = ((bits ^ (1 if inv else 0)) * 255).astype(np.uint8)
            elif bpc == 8 and colors in (1, 3):
                need = w * h * colors
                if len(body) < need:
                    raise ValueError(f"image body {len(body)} < {need} bytes")
                arr = np.frombuffer(body[:need], np.uint8)
                img = arr.reshape(h, w) if colors == 1 else arr.reshape(h, w, 3)
            elif bpc == 8 and colors == 4:  # CMYK -> RGB (naive, no ICC)
                need = w * h * 4
                if len(body) < need:
                    raise ValueError(f"image body {len(body)} < {need} bytes")
                cmyk = np.frombuffer(body[:need], np.uint8).reshape(h, w, 4)
                c, m_, y_, k_ = [cmyk[..., j].astype(np.int32) for j in range(4)]
                img = np.stack(
                    [(255 - c) * (255 - k_) // 255,
                     (255 - m_) * (255 - k_) // 255,
                     (255 - y_) * (255 - k_) // 255],
                    axis=2,
                ).astype(np.uint8)
            else:
                raise ValueError(
                    f"unsupported sample layout bpc={bpc} colors={colors}"
                )
            row["format"], row["content"] = "png", png_encode(img)
        except Exception as e:  # per-image envelope
            row["error"] = f"{type(e).__name__}: {e}"
    return out


def pdf_write_images(
    blocks: list[dict],
    images: list[tuple],
    page_w: float = PAGE_W,
    page_h: float = PAGE_H,
) -> bytes:
    """Fixture writer: a valid single-page PDF carrying text blocks AND
    image XObjects. images = [(np_img_uint8, codec)] with codec one of
    'jpeg' (DCTDecode, encoded with the repo's baseline JFIF writer),
    'flate' (FlateDecode raw samples), 'flate_png' (FlateDecode + PNG
    Up-predictor /DecodeParms), 'bilevel' (1-bit /ImageMask-style Flate),
    'ccitt' (REAL CCITTFaxDecode G4, K=-1) / 'ccitt_g3' (K=0 1-D MH) /
    'jbig2' (REAL JBIG2Decode generic region) / 'jbig2_text' (REAL
    symbol-dictionary + text-region stream) with input thresholded at
    128, 'jbig2_halftone' (REAL pattern-dict + halftone-region stream,
    Bayer-dithered 5-level quantization), 'jpx'
    (REAL lossless JPXDecode JP2), 'jpx_lossy' (a REAL 9/7 irreversible
    quantized codestream, decoded lossily)."""
    import zlib

    from ocr_spark.operators.image_codecs import jpeg_encode

    lines = []
    for b in blocks:
        size = float(b.get("size", 12))
        x = float(b["x"])
        y = page_h - float(b["y"]) - size
        lines.append(
            f"BT /F1 {size:g} Tf {x:g} {y:g} Td ({_pdf_escape(str(b['text']))}) Tj ET"
        )
    img_objs: list[bytes] = []
    obj_base = 6  # 1-5 are catalog/pages/page/contents/font
    xnames = []
    for i, (img, codec) in enumerate(images):
        img = np.asarray(img, np.uint8)
        h, w = img.shape[:2]
        colors = 3 if img.ndim == 3 else 1
        cs = "/DeviceRGB" if colors == 3 else "/DeviceGray"
        parms = b""
        if codec == "jpeg":
            body = jpeg_encode(img)
            filt, bpc = b"/Filter /DCTDecode ", 8
        elif codec == "flate":
            body = zlib.compress(img.tobytes())
            filt, bpc = b"/Filter /FlateDecode ", 8
        elif codec == "flate_png":
            rows = img.reshape(h, w * colors).astype(np.int64)
            up = np.vstack([np.zeros((1, w * colors), np.int64), rows[:-1]])
            enc = np.hstack(
                [np.full((h, 1), 2, np.uint8), ((rows - up) & 0xFF).astype(np.uint8)]
            )
            body = zlib.compress(enc.tobytes())
            filt, bpc = b"/Filter /FlateDecode ", 8
            parms = (
                f"/DecodeParms << /Predictor 12 /Colors {colors} "
                f"/BitsPerComponent 8 /Columns {w} >> "
            ).encode()
        elif codec == "bilevel":
            bits = np.packbits((img > 127).astype(np.uint8), axis=1)
            body = zlib.compress(bits.tobytes())
            filt, bpc = b"/Filter /FlateDecode ", 1
        elif codec in ("ccitt", "ccitt_g3", "ccitt_g3_2d"):
            from ocr_spark.operators.fax_codec import (
                g3_1d_encode,
                g3_2d_encode,
                g4_encode,
            )

            bits = (img < 128).astype(np.uint8)  # coding 1 = black
            if codec == "ccitt":
                body = g4_encode(bits)
                k = -1
            elif codec == "ccitt_g3_2d":
                # the PDF-default /EndOfLine false layout: tag bits only
                body = g3_2d_encode(bits, with_eol=False)
                k = 2
            else:
                body = g3_1d_encode(bits, byte_align=False)
                k = 0
            filt, bpc = b"/Filter /CCITTFaxDecode ", 1
            parms = (
                f"/DecodeParms << /K {k} /Columns {w} /Rows {h} >> "
            ).encode()
        elif codec == "jbig2":
            from ocr_spark.operators.jbig2_codec import jbig2_encode

            body = jbig2_encode((img < 128).astype(np.uint8))
            filt, bpc = b"/Filter /JBIG2Decode ", 1
        elif codec == "jbig2_text":
            # REAL symbol-dictionary + text-region stream: the page is
            # tiled with two alternating glyph bitmaps cut from the image
            from ocr_spark.operators.jbig2_codec import jbig2_encode_text

            bl = (img < 128).astype(np.uint8)
            g1, g2 = bl[: h // 2, : w // 2], bl[h // 2 :, w // 2 :]
            placements = [(0, 0, 0), (1, w // 2, h // 2)]
            body = jbig2_encode_text(
                [g1, g2], placements, (w, h)
            )
            filt, bpc = b"/Filter /JBIG2Decode ", 1
        elif codec == "jbig2_halftone":
            # a REAL halftone-coded stream: the input is quantized to 5
            # density levels and coded as a pattern dictionary + halftone
            # region (4x4 ordered-dither patterns, regular grid)
            from ocr_spark.operators.jbig2_codec import jbig2_encode_halftone

            g = img if img.ndim == 2 else img[..., 0]
            # Bayer 4x4 ordered-dither pattern bank: level k = first k
            # threshold cells black
            bayer = np.array(
                [[0, 8, 2, 10], [12, 4, 14, 6],
                 [3, 11, 1, 9], [15, 7, 13, 5]]
            )
            pats = [(bayer < 4 * lvl).astype(np.uint8) for lvl in range(5)]
            gh, gw = (g.shape[0] + 3) // 4, (g.shape[1] + 3) // 4
            pad = np.full((gh * 4, gw * 4), 255, np.uint8)
            pad[: g.shape[0], : g.shape[1]] = g
            cells = pad.reshape(gh, 4, gw, 4).mean(axis=(1, 3))
            gi = np.clip(((255.0 - cells) / 51.0).round(), 0, 4).astype(int)
            body = jbig2_encode_halftone(gi, pats)
            filt, bpc = b"/Filter /JBIG2Decode ", 1
        elif codec == "jpx":
            from ocr_spark.operators.jp2_codec import jp2_encode

            body = jp2_encode(img)
            filt, bpc = b"/Filter /JPXDecode ", 8
        elif codec == "jpx_lossy":
            # a REAL 9/7 (irreversible) codestream: quantized subbands
            # (QCD style 2), float DWT — decodes for real via jp2_codec's
            # lossy path (delta=1/2 keeps the reconstruction within a few
            # intensity levels, the photographic-profile shape)
            from ocr_spark.operators.jp2_codec import jp2k_encode

            body = jp2k_encode(
                img if img.ndim == 2 else img[..., 0],
                irreversible=True, delta=0.5,
            )
            filt, bpc = b"/Filter /JPXDecode ", 8
        else:
            raise ValueError(f"unknown fixture codec {codec!r}")
        img_objs.append(
            f"<< /Type /XObject /Subtype /Image /Width {w} /Height {h} "
            f"/ColorSpace {cs} /BitsPerComponent {bpc} ".encode()
            + filt + parms
            + f"/Length {len(body)} >>\nstream\n".encode()
            + body + b"\nendstream"
        )
        name = f"/Im{i}"
        xnames.append(f"{name} {obj_base + i} 0 R")
        # paint each image in a 128x128 box stepped across the page
        lines.append(
            f"q 128 0 0 128 {40 + 140 * (i % 4)} "
            f"{page_h - 200 - 150 * (i // 4):g} cm {name} Do Q"
        )
    content = "\n".join(lines).encode("latin-1")
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {page_w:g} {page_h:g}] "
            "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> "
            f"/XObject << {' '.join(xnames)} >> >> >>"
        ).encode(),
        b"<< /Length " + str(len(content)).encode()
        + b" >>\nstream\n" + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        *img_objs,
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_off = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_off}\n%%EOF\n"
    ).encode()
    return bytes(out)


def pdf_write_pages(
    pages: list[list[dict]],
    page_w: float = PAGE_W,
    page_h: float = PAGE_H,
    shuffle_objects: bool = False,
) -> bytes:
    """Multi-page fixture writer: one /Page + content stream per entry of
    `pages` (same block dicts as pdf_write). shuffle_objects=True stores
    the content streams in REVERSED file order while the /Kids array keeps
    logical order — the case that breaks any reader that trusts byte order
    over the page tree."""
    n_pages = len(pages)
    page_objs: list[bytes] = []
    content_objs: list[bytes] = []
    kids = []
    font_num = 2 + 2 * n_pages + 1  # catalog, pages, n*(page+content), font
    for p, blocks in enumerate(pages):
        lines = []
        for b in blocks:
            size = float(b.get("size", 12))
            x = float(b["x"])
            y = page_h - float(b["y"]) - size
            lines.append(
                f"BT /F1 {size:g} Tf {x:g} {y:g} Td "
                f"({_pdf_escape(str(b['text']))}) Tj ET"
            )
        content = "\n".join(lines).encode("latin-1")
        page_num = 3 + 2 * p
        content_num = 4 + 2 * p
        kids.append(f"{page_num} 0 R")
        page_objs.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {page_w:g} "
                f"{page_h:g}] /Contents {content_num} 0 R "
                f"/Resources << /Font << /F1 {font_num} 0 R >> >> >>"
            ).encode()
        )
        content_objs.append(
            b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream"
        )
    numbered = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (
            2,
            (
                f"<< /Type /Pages /Kids [{' '.join(kids)}] /Count {n_pages} >>"
            ).encode(),
        ),
    ]
    for p in range(n_pages):
        numbered.append((3 + 2 * p, page_objs[p]))
        numbered.append((4 + 2 * p, content_objs[p]))
    numbered.append(
        (font_num, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    )
    if shuffle_objects:
        numbered = [numbered[0], numbered[1], *reversed(numbered[2:])]
    out = bytearray(b"%PDF-1.4\n")
    offsets: dict[int, int] = {}
    for num, body in numbered:
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    xref_off = len(out)
    out += f"xref\n0 {len(numbered) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in sorted(offsets):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(numbered) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_off}\n%%EOF\n"
    ).encode()
    return bytes(out)
