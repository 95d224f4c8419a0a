"""Office / ebook / markup document-format text extraction — DOCX (OOXML
WordprocessingML), EPUB (OCF + OPF spine), ODT (OpenDocument), RTF, LaTeX.

The reference's acquisition layer accepts "any document the user points at"
(ref ocr_workflow_orchestrator.py:153-178 loads whatever PIL opens; the
roadmap's input matrix lists office formats as the non-image acquisition
path). A web crawl is full of these: Common Crawl carries hundreds of
millions of DOCX/EPUB/RTF payloads whose text never reaches the corpus if
the extractor only speaks HTML and PDF. Every parser here is from-scratch
over the PUBLIC format specs:

  * DOCX  — ISO/IEC 29500 WordprocessingML: ZIP container (stdlib zipfile +
    zlib), word/document.xml paragraphs/runs/tables, pStyle Heading-N and
    numPr list detection, docProps/core.xml Dublin Core metadata;
  * EPUB  — IDPF OCF/OPF: META-INF/container.xml -> rootfile -> package
    manifest + spine; each XHTML chapter flows through the repo's own T8
    DOM flattener (ALL blocks kept — a book's 2-word dialogue paragraph is
    content, not boilerplate);
  * ODT   — OASIS OpenDocument text: content.xml text:p / text:h /
    text:list / table:table with text:s/tab/line-break expansion;
  * RTF   — Microsoft RTF 1.9 control-word tokenizer: groups, destinations,
    \\'hh codepage bytes (multibyte-safe buffering), \\uN unicode with
    \\ucN fallback skipping and surrogate-pair folding, \\binN raw skip;
  * LaTeX — the arXiv-corpus pass (the RedPajama / The Pile recipe class):
    comment strip, math -> sentinel, environment policy (drop tabular/tikz,
    keep caption/verbatim), sectioning -> markdown-style headings, known
    text-command unwrap, accent folding, unknown-command removal.

Zip containers are crawl-hardened: entry-count and per-entry decompressed
caps are enforced BEFORE allocation (a 4 KiB zip bomb must not OOM an
executor), every read is bounded, and any structural failure raises
ValueError for the per-asset error envelope (the media_probe.py contract).

Spark surface: `document_text(assets)` = ONE Arrow-batched mapInPandas
stage over (media_ref, content) with per-asset error envelopes — zero
Exchange (plan-asserted in tests), the repo's binary-asset convention.
Binary payloads are not SQL-expressible, so the family is pytest-golden
per the board convention (SURVEY §5.2): fixture synthesizers below write
real containers, and every parser round-trips against them.
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile
from typing import Iterator
from urllib.parse import unquote
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ocr_spark.operators.cloud_engine import MAX_INFLATE_BYTES

# ---------------------------------------------------------------------------
# hardened ZIP access (shared by DOCX / EPUB / ODT)
# ---------------------------------------------------------------------------

MAX_ZIP_ENTRIES = 4096
MAX_ENTRY_BYTES = MAX_INFLATE_BYTES  # 64 MiB decompressed per entry


def _zip_open(data: bytes) -> zipfile.ZipFile:
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except Exception as e:
        raise ValueError(f"bad zip container: {e}") from None
    if len(zf.namelist()) > MAX_ZIP_ENTRIES:
        raise ValueError(f"zip entry count {len(zf.namelist())} > {MAX_ZIP_ENTRIES}")
    return zf


def _zip_read(zf: zipfile.ZipFile, name: str, max_bytes: int | None = None) -> bytes:
    """Bounded entry read: the central-directory size field can lie, so the
    cap is enforced on the actual inflated stream, not the header."""
    if max_bytes is None:
        max_bytes = MAX_ENTRY_BYTES  # late-bound so the cap is tunable
    try:
        with zf.open(name) as fh:
            out = fh.read(max_bytes + 1)
    except KeyError:
        raise ValueError(f"zip entry missing: {name!r}") from None
    except Exception as e:
        raise ValueError(f"zip entry unreadable: {name!r}: {e}") from None
    if len(out) > max_bytes:
        raise ValueError(f"zip entry {name!r} exceeds {max_bytes} bytes inflated")
    return out


def _xml_root(data: bytes, what: str) -> ET.Element:
    try:
        return ET.fromstring(data)
    except ET.ParseError as e:
        raise ValueError(f"bad {what} xml: {e}") from None


def _local(tag) -> str:
    """Namespace-agnostic local tag name ('{ns}p' -> 'p')."""
    if not isinstance(tag, str):
        return ""  # comments / PIs
    return tag.rsplit("}", 1)[-1]


# ---------------------------------------------------------------------------
# DOCX — ISO/IEC 29500 WordprocessingML
# ---------------------------------------------------------------------------

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"


def _docx_para_text(p: ET.Element) -> str:
    """One w:p in document order. w:t keeps raw text (xml:space handled by
    the XML layer), w:tab/br/cr map to layout chars, field instructions
    (w:instrText) and tracked deletions (w:delText) carry no output."""
    parts: list[str] = []
    for el in p.iter():
        t = _local(el.tag)
        if t == "t" and el.text:
            parts.append(el.text)
        elif t == "tab":
            parts.append("\t")
        elif t in ("br", "cr"):
            parts.append("\n")
        elif t == "noBreakHyphen":
            parts.append("-")
    return "".join(parts)


def _docx_para_prefix(p: ET.Element) -> str:
    """Markdown-style structural prefix from paragraph properties: pStyle
    Heading1..9 -> '#'*n, numPr -> list item (ilvl-indented)."""
    ppr = p.find(_W + "pPr")
    if ppr is None:
        return ""
    style = ppr.find(_W + "pStyle")
    if style is not None:
        val = style.get(_W + "val", "")
        m = re.match(r"(?:Heading|heading)([1-9])$", val)
        if m:
            return "#" * int(m.group(1)) + " "
        if val == "Title":
            return "# "
    numpr = ppr.find(_W + "numPr")
    if numpr is not None:
        ilvl = numpr.find(_W + "ilvl")
        lvl = int(ilvl.get(_W + "val", "0") or 0) if ilvl is not None else 0
        return "  " * max(0, min(lvl, 8)) + "- "
    return ""


def _docx_cell_text(tc: ET.Element) -> str:
    paras = [
        _docx_para_text(p) for p in tc.iter(_W + "p")
    ]
    return " ".join(x for x in (s.strip() for s in paras) if x)


def _docx_blocks(parent: ET.Element, out: list[str]) -> None:
    for el in parent:
        t = _local(el.tag)
        if t == "p":
            txt = _docx_para_text(el)
            if txt.strip():
                out.append(_docx_para_prefix(el) + txt)
        elif t == "tbl":
            for tr in el.findall(_W + "tr"):
                cells = [_docx_cell_text(tc) for tc in tr.findall(_W + "tc")]
                if any(cells):
                    out.append(" | ".join(cells))
        elif t in ("sdt", "sdtContent", "body"):
            # structured document tags wrap normal block content
            _docx_blocks(el, out)


_DC = "{http://purl.org/dc/elements/1.1/}"
_DCTERMS = "{http://purl.org/dc/terms/}"


def _docx_core_props(zf: zipfile.ZipFile) -> dict:
    meta = {"title": None, "creator": None, "lang": None, "date": None}
    if "docProps/core.xml" not in zf.namelist():
        return meta
    try:
        root = _xml_root(_zip_read(zf, "docProps/core.xml"), "core-properties")
    except ValueError:
        return meta  # metadata is optional; its corruption never fails the doc
    for el in root.iter():
        t = _local(el.tag)
        if t == "title" and el.text:
            meta["title"] = el.text.strip() or None
        elif t == "creator" and el.text:
            meta["creator"] = el.text.strip() or None
        elif t == "language" and el.text:
            meta["lang"] = el.text.strip() or None
        elif t == "created" and el.text:
            meta["date"] = el.text.strip() or None
    return meta


def docx_extract(data: bytes) -> dict:
    """DOCX bytes -> {text, title, creator, lang, date, n_blocks}."""
    zf = _zip_open(data)
    body_xml = _zip_read(zf, "word/document.xml")
    root = _xml_root(body_xml, "document")
    body = None
    for el in root:
        if _local(el.tag) == "body":
            body = el
            break
    if body is None:
        raise ValueError("document.xml has no w:body")
    blocks: list[str] = []
    _docx_blocks(body, blocks)
    meta = _docx_core_props(zf)
    meta.update(text="\n".join(blocks), n_blocks=len(blocks))
    return meta


# ---------------------------------------------------------------------------
# EPUB — OCF container + OPF package
# ---------------------------------------------------------------------------


def _epub_rootfile(zf: zipfile.ZipFile) -> str:
    root = _xml_root(_zip_read(zf, "META-INF/container.xml"), "container")
    for el in root.iter():
        if _local(el.tag) == "rootfile":
            path = el.get("full-path")
            if path:
                return path
    raise ValueError("container.xml has no rootfile")


def _html_all_blocks(html: str) -> str:
    """Full block text of a chapter in document order — the T8 flattener
    WITHOUT boilerplate scoring (book paragraphs are content regardless of
    word count; EPUB chapters carry no nav chrome worth a density model)."""
    from ocr_spark.operators.html_extract import flatten_dom

    rows = flatten_dom(html)
    return "\n".join(r["text"] for r in rows if r["text"])


def epub_extract(data: bytes, max_chapters: int = 512) -> dict:
    """EPUB bytes -> {text, title, creator, lang, date, n_blocks(=chapters)}.
    Spine order; hrefs resolved against the OPF directory with URL
    unescaping; non-XHTML manifest items (css, images) are never read."""
    zf = _zip_open(data)
    opf_path = _epub_rootfile(zf)
    opf = _xml_root(_zip_read(zf, opf_path), "opf package")
    opf_dir = posixpath.dirname(opf_path)

    meta = {"title": None, "creator": None, "lang": None, "date": None}
    manifest: dict[str, tuple[str, str]] = {}  # id -> (href, media-type)
    spine: list[str] = []
    for el in opf.iter():
        t = _local(el.tag)
        if t in ("title", "creator", "language", "date") and el.text:
            key = {"language": "lang"}.get(t, t)
            if meta.get(key) is None:
                meta[key] = el.text.strip() or None
        elif t == "item":
            iid, href = el.get("id"), el.get("href")
            if iid and href:
                manifest[iid] = (href, el.get("media-type", ""))
        elif t == "itemref":
            idref = el.get("idref")
            if idref and el.get("linear", "yes").lower() != "no":
                spine.append(idref)
    if not spine:
        raise ValueError("opf package has no spine")

    names = set(zf.namelist())
    chapters: list[str] = []
    for idref in spine[:max_chapters]:
        href, mtype = manifest.get(idref, (None, ""))
        if not href:
            continue
        if mtype and "html" not in mtype and "xml" not in mtype:
            continue
        path = posixpath.normpath(posixpath.join(opf_dir, unquote(href.split("#")[0])))
        if path not in names:
            continue
        html = _zip_read(zf, path).decode("utf-8", errors="replace")
        txt = _html_all_blocks(html)
        if txt:
            chapters.append(txt)
    meta.update(text="\n\n".join(chapters), n_blocks=len(chapters))
    return meta


# ---------------------------------------------------------------------------
# ODT — OASIS OpenDocument text
# ---------------------------------------------------------------------------

_OTEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"


def _odt_para_text(el: ET.Element) -> str:
    """Recursive in-paragraph walk: text:s expands to its space count,
    tab/line-break to layout chars; footnote/annotation bodies are skipped
    (inline note text would garble the sentence that anchors it)."""
    parts: list[str] = [el.text or ""]
    for ch in el:
        t = _local(ch.tag)
        if t == "s":
            n = ch.get(_OTEXT + "c", "1")
            try:
                parts.append(" " * max(1, min(int(n or 1), 1000)))
            except ValueError:
                parts.append(" ")
        elif t == "tab":
            parts.append("\t")
        elif t == "line-break":
            parts.append("\n")
        elif t in ("note", "annotation"):
            pass
        else:
            parts.append(_odt_para_text(ch))
        parts.append(ch.tail or "")
    return "".join(parts)


def _odt_blocks(parent: ET.Element, out: list[str], list_depth: int = 0) -> None:
    for el in parent:
        t = _local(el.tag)
        if t == "p":
            txt = _odt_para_text(el)
            if txt.strip():
                pre = "  " * max(0, list_depth - 1) + "- " if list_depth else ""
                out.append(pre + txt)
        elif t == "h":
            txt = _odt_para_text(el)
            if txt.strip():
                try:
                    lvl = int(el.get(_OTEXT + "outline-level", "1") or 1)
                except ValueError:
                    lvl = 1
                out.append("#" * max(1, min(lvl, 6)) + " " + txt)
        elif t == "list":
            for item in el:
                if _local(item.tag) in ("list-item", "list-header"):
                    _odt_blocks(item, out, list_depth + 1)
        elif t == "table":
            for row in el.iter():
                if _local(row.tag) != "table-row":
                    continue
                cells = []
                for cell in row:
                    if _local(cell.tag) == "table-cell":
                        sub: list[str] = []
                        _odt_blocks(cell, sub)
                        cells.append(" ".join(sub))
                if any(cells):
                    out.append(" | ".join(cells))
        elif t in ("section", "text"):
            _odt_blocks(el, out, list_depth)


def odt_extract(data: bytes) -> dict:
    """ODT bytes -> {text, title, creator, lang, date, n_blocks}."""
    zf = _zip_open(data)
    root = _xml_root(_zip_read(zf, "content.xml"), "content")
    blocks: list[str] = []
    for el in root.iter():
        if _local(el.tag) == "text":  # office:text — the document body
            _odt_blocks(el, blocks)
            break
    meta = {"title": None, "creator": None, "lang": None, "date": None}
    if "meta.xml" in zf.namelist():
        try:
            mroot = _xml_root(_zip_read(zf, "meta.xml"), "meta")
            for el in mroot.iter():
                t = _local(el.tag)
                if t == "title" and el.text and meta["title"] is None:
                    meta["title"] = el.text.strip() or None
                elif t == "creator" and el.text and meta["creator"] is None:
                    meta["creator"] = el.text.strip() or None
                elif t == "language" and el.text and meta["lang"] is None:
                    meta["lang"] = el.text.strip() or None
                elif t == "creation-date" and el.text and meta["date"] is None:
                    meta["date"] = el.text.strip() or None
        except ValueError:
            pass
    meta.update(text="\n".join(blocks), n_blocks=len(blocks))
    return meta


# ---------------------------------------------------------------------------
# RTF — control-word tokenizer (RTF 1.9 spec)
# ---------------------------------------------------------------------------

# destinations whose content is formatting/embedded data, never body text
_RTF_SKIP_DESTS = {
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "themedata", "colorschememapping", "datastore", "latentstyles",
    "listtable", "listoverridetable", "revtbl", "rsidtbl", "generator",
    "header", "footer", "headerl", "headerr", "headerf",
    "footerl", "footerr", "footerf", "footnote", "xmlnstbl",
    "filetbl", "fldinst", "bkmkstart", "bkmkend", "operator",
}
_RTF_CHARS = {
    "par": "\n", "line": "\n", "row": "\n", "cell": "\t", "tab": "\t",
    "emdash": "\u2014", "endash": "\u2013", "emspace": " ", "enspace": " ",
    "qmspace": " ", "bullet": "\u2022", "lquote": "\u2018",
    "rquote": "\u2019", "ldblquote": "\u201c", "rdblquote": "\u201d",
    "sect": "\n", "page": "\n", "sectd": "", "pard": "", "plain": "",
    "nestcell": "\t", "nestrow": "\n", "zwj": "", "zwnj": "",
    "ltrmark": "", "rtlmark": "",
}

_RTF_TOKEN = re.compile(
    rb"\\([a-z]{1,32})(-?\d{1,10})?(?: )?"  # control word, optional param + eaten space
    rb"|\\'([0-9a-fA-F]{2})"                # hex byte escape
    rb"|\\([^a-z])"                          # control symbol
    rb"|([{}])"                              # group delimiters
    rb"|([^\\{}]+)",                          # plain text run
    re.S,
)


def rtf_extract(data: bytes) -> dict:
    """RTF bytes -> {text, title, lang, n_blocks}. Group-stacked \\ucN
    state, codepage-correct \\'hh decoding (consecutive hex bytes buffer and
    decode together so multibyte codepages like cp932 survive), \\uN with
    negative-value folding and surrogate pairing, \\binN raw skips."""
    if not data.startswith(b"{\\rtf"):
        raise ValueError("not an RTF payload")
    codepage = "cp1252"
    out: list[str] = []
    hexbuf = bytearray()
    # group state: (uc, skip_group_depth_flag)
    uc_stack: list[int] = [1]
    skip_depth = 0  # >0 while inside a skipped destination group
    depth = 0
    pend_skip = 0  # \ucN fallback chars to swallow after \uN
    hi_surrogate: int | None = None

    def flush_hex() -> None:
        nonlocal hexbuf
        if hexbuf:
            out.append(hexbuf.decode(codepage, errors="replace"))
            hexbuf = bytearray()

    def emit(ch: str) -> None:
        nonlocal pend_skip
        if pend_skip > 0:
            pend_skip -= 1
            return
        out.append(ch)

    pos = 0
    n = len(data)
    group_first_token: list[bool] = [False]
    while pos < n:
        m = _RTF_TOKEN.match(data, pos)
        if m is None:
            pos += 1
            continue
        pos = m.end()
        word, param, hexb, sym, brace, text = m.groups()
        if brace:
            flush_hex()
            if brace == b"{":
                depth += 1
                uc_stack.append(uc_stack[-1])
                group_first_token.append(True)
                if skip_depth:
                    skip_depth += 1
            else:
                depth = max(0, depth - 1)
                if len(uc_stack) > 1:
                    uc_stack.pop()
                if len(group_first_token) > 1:
                    group_first_token.pop()
                if skip_depth:
                    skip_depth -= 1
            continue
        first = group_first_token[-1]
        group_first_token[-1] = False
        if word is not None:
            w = word.decode("ascii")
            if skip_depth:
                if w == "bin" and param:
                    pos += max(0, int(param))
                continue
            flush_hex()
            if first and w in _RTF_SKIP_DESTS:
                skip_depth = 1
                continue
            if w == "u" and param is not None:
                v = int(param)
                if v < 0:
                    v += 65536
                if 0xD800 <= v < 0xDC00:
                    hi_surrogate = v
                elif 0xDC00 <= v < 0xE000 and hi_surrogate is not None:
                    cp = 0x10000 + ((hi_surrogate - 0xD800) << 10) + (v - 0xDC00)
                    hi_surrogate = None
                    out.append(chr(cp))
                else:
                    hi_surrogate = None
                    emit_n = chr(v) if v not in (0,) else ""
                    if emit_n:
                        out.append(emit_n)
                pend_skip = uc_stack[-1]
                continue
            if w == "uc" and param is not None:
                uc_stack[-1] = max(0, int(param))
                continue
            if w == "ansicpg" and param is not None:
                cp = f"cp{int(param)}"
                try:
                    b"\x41".decode(cp)
                    codepage = cp
                except LookupError:
                    pass
                continue
            if w == "bin" and param:
                pos += max(0, int(param))
                continue
            ch = _RTF_CHARS.get(w)
            if ch:
                emit(ch)
            continue
        if hexb is not None:
            if skip_depth:
                continue
            if pend_skip > 0:
                pend_skip -= 1
                continue
            hexbuf.extend(bytes.fromhex(hexb.decode("ascii")))
            continue
        if sym is not None:
            if skip_depth:
                continue
            flush_hex()
            s = sym.decode("latin-1")
            if s == "*" and first:
                # {\*\dest ...} — an unknown starred destination: skip group
                skip_depth = 1
            elif s in "\\{}":
                emit(s)
            elif s == "~":
                emit(" ")
            elif s == "_":
                emit("-")
            elif s == "\n" or s == "\r":
                emit("\n")
            continue
        if text is not None:
            if skip_depth:
                continue
            flush_hex()
            t = text.replace(b"\r", b"").replace(b"\n", b"").decode(
                codepage, errors="replace"
            )
            for chx in t:
                emit(chx)
    flush_hex()
    raw = "".join(out)
    # squeeze the blank-line noise \pard\par chains produce
    txt = re.sub(r"\n{3,}", "\n\n", raw).strip()
    return {
        "text": txt,
        "title": None,
        "creator": None,
        "lang": None,
        "date": None,
        "n_blocks": txt.count("\n") + 1 if txt else 0,
    }


# ---------------------------------------------------------------------------
# LaTeX — arXiv-corpus extraction pass
# ---------------------------------------------------------------------------

_TEX_ACCENTS = {
    "'a": "á", "'e": "é", "'i": "í", "'o": "ó", "'u": "ú", "'y": "ý",
    "'c": "ć", "'n": "ń", "'s": "ś", "'z": "ź",
    "`a": "à", "`e": "è", "`i": "ì", "`o": "ò", "`u": "ù",
    '"a': "ä", '"e': "ë", '"i': "ï", '"o': "ö", '"u': "ü", '"y': "ÿ",
    "^a": "â", "^e": "ê", "^i": "î", "^o": "ô", "^u": "û",
    "~n": "ñ", "~a": "ã", "~o": "õ",
    "cc": "ç", "cs": "ş", "ct": "ţ",
    "vs": "š", "vc": "č", "vz": "ž", "ve": "ě", "vr": "ř",
    "ug": "ğ", "ka": "ą", "ke": "ę", "ra": "å", "ru": "ů",
    "Ho": "ő", "Hu": "ű",
}
# letter-producing commands (\i is a COMMAND, not a control symbol — the
# tokenizer routes it through the command path)
_TEX_LETTER_CMDS = {
    "i": "i", "j": "j", "ss": "ß", "ae": "æ", "AE": "Æ", "oe": "œ",
    "OE": "Œ", "o": "ø", "O": "Ø", "aa": "å", "AA": "Å", "l": "ł",
    "L": "Ł", "dots": "…", "ldots": "…", "textellipsis": "…",
    "textemdash": "—", "textendash": "–", "textquotedblleft": "“",
    "textquotedblright": "”", "textquoteleft": "‘",
    "textquoteright": "’", "copyright": "©", "textregistered": "®",
    "texttrademark": "™", "degree": "°", "textdegree": "°", "S": "§",
    "P": "¶", "pounds": "£", "textbullet": "•", "today": "",
}


def _tex_fold_accent(sym: str, arg: str) -> str:
    """Fold one accent command over its (already-extracted) argument:
    `\\'{e}` / `\\'e` -> 'é', `\\c{c}` -> 'ç', `\\\"{\\i}` -> 'ï'. Unknown
    combinations keep the bare argument (accent dropped, letter kept)."""
    if arg.startswith("\\"):  # \"{\i} — letter COMMAND as the accent base
        base = _TEX_LETTER_CMDS.get(arg[1:].strip(), arg[1:].strip())
    else:
        base = arg
    if not base:
        return ""
    folded = _TEX_ACCENTS.get(sym + base[0].lower())
    if folded is None:
        return base
    head = folded.upper() if base[0].isupper() else folded
    return head + base[1:]
_TEX_DROP_ENVS = ("tabular", "tikzpicture", "equation", "align", "gather",
                  "eqnarray", "math", "displaymath", "array", "thebibliography")
_TEX_UNWRAP = ("textbf", "textit", "texttt", "textsc", "textsl", "emph",
               "underline", "mbox", "text", "textrm", "textsf", "section",
               "subsection", "subsubsection", "chapter", "paragraph",
               "caption", "title", "author", "url", "texorpdfstring")
_TEX_DROP_CMDS = ("cite", "citep", "citet", "ref", "eqref", "autoref",
                  "label", "footnote", "footnotemark", "footnotetext",
                  "bibliography", "bibliographystyle", "includegraphics",
                  "input", "include", "vspace", "hspace", "usepackage",
                  "documentclass", "newcommand", "renewcommand", "def",
                  "pagestyle", "thispagestyle", "setlength", "index")
_SECT_PREFIX = {"chapter": "# ", "section": "# ", "subsection": "## ",
                "subsubsection": "### ", "paragraph": "#### ", "title": "# "}


def _tex_balanced_arg(s: str, i: int) -> tuple[str, int]:
    """Read one balanced {...} group starting at s[i] == '{'.
    Returns (content, index_after_closing_brace)."""
    depth = 0
    j = i
    n = len(s)
    while j < n:
        c = s[j]
        if c == "\\" and j + 1 < n:
            j += 2
            continue
        if c == "{":
            depth += 1
        elif c == "}":
            depth -= 1
            if depth == 0:
                return s[i + 1 : j], j + 1
        j += 1
    return s[i + 1 :], n  # unbalanced: take the rest


_TEX_CMD = re.compile(r"\\([a-zA-Z]+)\s*(\[[^\]\n]*\])?")


def _tex_apply_commands(s: str) -> str:
    """One left-to-right pass: sectioning commands become heading lines,
    unwrap commands keep their argument, drop commands vanish with their
    argument, anything else loses the backslash token but keeps following
    text. Nested arguments are re-scanned because unwrapped content is
    spliced back into the stream."""
    out: list[str] = []
    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c in "{}":
            i += 1  # bare group braces are scoping, never content
            continue
        if c != "\\":
            out.append(c)
            i += 1
            continue
        m = _TEX_CMD.match(s, i)
        if not m:
            # control symbol: \\ -> newline, \% \& \$ \# \_ -> literal, else drop
            if i + 1 < n:
                sym = s[i + 1]
                if sym == "\\":
                    out.append("\n")
                elif sym in "%&$#_{}":
                    out.append(sym)
                elif sym in "'`\"^~" and i + 2 < n:
                    if s[i + 2] == "{":
                        arg, j2 = _tex_balanced_arg(s, i + 2)
                        out.append(_tex_fold_accent(sym, arg.strip()))
                        i = j2
                    else:
                        out.append(_tex_fold_accent(sym, s[i + 2]))
                        i += 3
                    continue
                elif sym in ",;:! ":
                    out.append(" ")
                i += 2
            else:
                i += 1
            continue
        name = m.group(1)
        j = m.end()
        if name == "item":
            out.append("\n- ")
            i = j
            continue
        has_arg = j < n and s[j] == "{"
        if name in _TEX_LETTER_CMDS:
            out.append(_TEX_LETTER_CMDS[name])
            if has_arg:  # the \ss{} / \l{}adyslaw spacing idiom
                arg, j2 = _tex_balanced_arg(s, j)
                if arg.strip() == "":
                    j = j2
                # non-empty arg is following content, left in the stream
            i = j
            continue
        if name in ("c", "v", "u", "H", "k", "r", "b", "d", "t") and has_arg:
            # letter-accent commands: \c{c} -> ç; unmapped combos keep the letter
            arg, j2 = _tex_balanced_arg(s, j)
            out.append(_tex_fold_accent(name, arg.strip()))
            i = j2
            continue
        if name in _TEX_UNWRAP and has_arg:
            arg, j2 = _tex_balanced_arg(s, j)
            if name == "texorpdfstring" and j2 < n and s[j2] == "{":
                _, j2 = _tex_balanced_arg(s, j2)  # keep TeX arm, drop PDF arm
            pre = _SECT_PREFIX.get(name, "")
            if pre:
                out.append("\n" + pre + _tex_apply_commands(arg).strip() + "\n")
            else:
                out.append(_tex_apply_commands(arg))
            i = j2
            continue
        if name in _TEX_DROP_CMDS:
            while j < n and s[j] == "{":  # eat every brace argument
                _, j = _tex_balanced_arg(s, j)
            i = j
            continue
        # unknown command: drop the token, keep any brace group's content
        if has_arg:
            arg, j2 = _tex_balanced_arg(s, j)
            out.append(_tex_apply_commands(arg))
            i = j2
        else:
            i = j
    return "".join(out)


def latex_extract(data: bytes | str) -> dict:
    """LaTeX source -> {text, title, n_blocks}. Comments stripped, math
    replaced by a single space, drop-environments removed (figure/table keep
    their captions), verbatim kept raw, sectioning -> markdown headings."""
    s = data.decode("utf-8", errors="replace") if isinstance(data, bytes) else data

    # title before the body cut (it usually sits in the preamble)
    title = None
    tm = re.search(r"\\title\s*{", s)
    if tm:
        title = _tex_apply_commands(
            _tex_balanced_arg(s, tm.end() - 1)[0]
        ).strip() or None

    # verbatim is protected before anything else touches the stream
    verbs: list[str] = []

    def _hold(m: re.Match) -> str:
        verbs.append(m.group(1))
        return f"\x00V{len(verbs) - 1}\x00"

    s = re.sub(
        r"\\begin{(?:verbatim|lstlisting)\*?}(.*?)\\end{(?:verbatim|lstlisting)\*?}",
        _hold, s, flags=re.S,
    )

    # comments: % to end-of-line unless escaped
    s = re.sub(r"(?<!\\)%[^\n]*", "", s)

    m = re.search(r"\\begin{document}(.*?)(\\end{document}|\Z)", s, re.S)
    if m:
        s = m.group(1)

    # captions escape their dropped environment first
    s = re.sub(
        r"\\begin{(figure|table)\*?}.*?\\end{\1\*?}",
        lambda mm: " ".join(
            "\n" + _SECT_PREFIX.get("caption", "")
            + _tex_balanced_arg(mm.group(0), cm.end() - 1)[0] + "\n"
            for cm in re.finditer(r"\\caption\s*{", mm.group(0))
        ),
        s, flags=re.S,
    )
    for env in _TEX_DROP_ENVS:
        s = re.sub(
            rf"\\begin{{{env}\*?}}.*?\\end{{{env}\*?}}", " ", s, flags=re.S
        )
    # leftover begin/end wrappers (itemize etc.) vanish, content stays
    s = re.sub(r"\\(?:begin|end){[a-zA-Z*]+}(\[[^\]\n]*\])?", "", s)

    # math -> single space
    s = re.sub(r"\$\$.*?\$\$", " ", s, flags=re.S)
    s = re.sub(r"(?<!\\)\$[^$]*\$", " ", s, flags=re.S)
    s = re.sub(r"\\\[.*?\\\]", " ", s, flags=re.S)
    s = re.sub(r"\\\(.*?\\\)", " ", s, flags=re.S)

    s = _tex_apply_commands(s)
    s = s.replace("~", " ")

    # restore verbatim
    s = re.sub(r"\x00V(\d+)\x00", lambda mm: verbs[int(mm.group(1))], s)

    # whitespace canonicalization: blank-line groups are paragraph breaks
    lines = [re.sub(r"[ \t]+", " ", ln).strip() for ln in s.split("\n")]
    paras: list[str] = []
    cur: list[str] = []
    for ln in lines:
        if ln:
            cur.append(ln)
        elif cur:
            paras.append(" ".join(cur) if not cur[0].startswith("#") else "\n".join(cur))
            cur = []
    if cur:
        paras.append(" ".join(cur) if not cur[0].startswith("#") else "\n".join(cur))
    # headings always stand alone
    final: list[str] = []
    for p in paras:
        for piece in p.split("\n"):
            if piece.strip():
                final.append(piece.strip())
    txt = "\n".join(final)
    return {
        "text": txt,
        "title": title,
        "creator": None,
        "lang": None,
        "date": None,
        "n_blocks": len(final),
    }


# ---------------------------------------------------------------------------
# PDF — delegates to the real text-layer parser (operators/pdf_layout); a
# crawl's application/pdf payloads land here via the same sniffing route as
# office formats, so WARC non-HTML routing covers them too.
# ---------------------------------------------------------------------------


def pdf_text_extract(data: bytes) -> dict:
    """PDF bytes -> {text, title, creator, date, n_blocks}: XY-cut-ordered
    text layer via pdf_layout.pdf_parse_blocks plus document metadata from
    the trailer /Info dictionary (pdf_layout.pdf_info — UTF-16 strings and
    D:-date conversion handled there; encrypted docs are decrypted first
    so /Info strings come out plaintext)."""
    import re as _re

    from ocr_spark.operators.pdf_layout import (
        pdf_info,
        pdf_parse_blocks,
        xy_cut_order,
    )

    if isinstance(data, str):
        data = data.encode("latin-1")
    if _re.search(rb"/Encrypt\s*(\d+\s+\d+\s*R|<<)", data):
        from ocr_spark.operators.pdf_crypt import decrypt_pdf

        data = decrypt_pdf(data)
    blocks, _, _ = pdf_parse_blocks(data)
    text = ""
    if blocks:
        import numpy as _np

        x = _np.array([float(b["x"]) for b in blocks])
        y = _np.array([float(b["y"]) for b in blocks])
        w = _np.array([float(b["w"]) for b in blocks])
        h = _np.array([float(b["h"]) for b in blocks])
        order = xy_cut_order(x, y, w, h)
        text = "\n".join(str(blocks[i].get("text", "")) for i in order)
    meta = pdf_info(data)
    return {
        "text": text,
        "title": meta.get("title"),
        "creator": meta.get("author"),
        "lang": None,
        "date": meta.get("date"),
        "n_blocks": len(blocks),
    }


# ---------------------------------------------------------------------------
# XLSX — SpreadsheetML (ISO/IEC 29500): workbook sheet order, shared
# strings, inline strings, per-row pipe-joined cells (the DOCX-table text
# convention)
# ---------------------------------------------------------------------------


def _col_index(ref: str) -> int:
    """'A1' -> 0, 'AB7' -> 27: the column part of an A1 cell reference."""
    n = 0
    for ch in ref:
        if not ch.isalpha():
            break
        n = n * 26 + (ord(ch.upper()) - 64)
    return n - 1


def xlsx_extract(data: bytes, max_sheets: int = 64) -> dict:
    """XLSX bytes -> {text, title, n_blocks(=rows)}. Sheets in workbook
    order (rels-resolved targets), shared + inline strings, numeric values
    verbatim; each row one line of ' | '-joined non-empty cells."""
    zf = _zip_open(data)
    names = set(zf.namelist())
    if "xl/workbook.xml" not in names:
        raise ValueError("xlsx missing xl/workbook.xml")
    wb = _xml_root(_zip_read(zf, "xl/workbook.xml"), "workbook")
    rels: dict[str, str] = {}
    if "xl/_rels/workbook.xml.rels" in names:
        rroot = _xml_root(
            _zip_read(zf, "xl/_rels/workbook.xml.rels"), "workbook rels"
        )
        for el in rroot.iter():
            if _local(el.tag) == "Relationship":
                rid, tgt = el.get("Id"), el.get("Target")
                if rid and tgt:
                    rels[rid] = tgt if not tgt.startswith("/") else tgt[1:]
    sheets: list[tuple[str, str]] = []  # (name, zip path)
    for el in wb.iter():
        if _local(el.tag) != "sheet":
            continue
        sname = el.get("name", f"Sheet{len(sheets) + 1}")
        rid = next(
            (v for k, v in el.attrib.items() if k.endswith("}id") or k == "id"),
            None,
        )
        tgt = rels.get(rid, f"worksheets/sheet{len(sheets) + 1}.xml")
        path = tgt if tgt.startswith("xl/") else posixpath.normpath(
            posixpath.join("xl", tgt)
        )
        if path in names:
            sheets.append((sname, path))
    shared: list[str] = []
    if "xl/sharedStrings.xml" in names:
        sroot = _xml_root(_zip_read(zf, "xl/sharedStrings.xml"), "sharedStrings")
        for si in sroot:
            if _local(si.tag) == "si":
                shared.append(
                    "".join(t.text or "" for t in si.iter() if _local(t.tag) == "t")
                )
    blocks: list[str] = []
    for sname, path in sheets[:max_sheets]:
        ws = _xml_root(_zip_read(zf, path), f"worksheet {path}")
        sheet_rows: list[str] = []
        for row in ws.iter():
            if _local(row.tag) != "row":
                continue
            cells: list[tuple[int, str]] = []
            for ci, c in enumerate(row):
                if _local(c.tag) != "c":
                    continue
                ctype = c.get("t", "n")
                v = None
                for ch in c:
                    t = _local(ch.tag)
                    if t == "v":
                        v = ch.text or ""
                    elif t == "is":
                        v = "".join(
                            x.text or "" for x in ch.iter() if _local(x.tag) == "t"
                        )
                if v is None:
                    continue
                if ctype == "s":
                    try:
                        v = shared[int(v)]
                    except (ValueError, IndexError):
                        pass
                elif ctype == "b":
                    v = "TRUE" if v in ("1", "true") else "FALSE"
                # cells without an A1 ref (spec-legal) keep DOCUMENT order
                # via their child index — sorting them by value would
                # scramble the row
                ref = c.get("r", "")
                col = _col_index(ref) if ref else ci
                cells.append((col, ci, v))
            vals = [v for _, _, v in sorted(cells) if v.strip()]
            if vals:
                sheet_rows.append(" | ".join(vals))
        if sheet_rows:
            if len(sheets) > 1:
                blocks.append(f"# {sname}")
            blocks.extend(sheet_rows)
    return {
        "text": "\n".join(blocks),
        "title": sheets[0][0] if len(sheets) == 1 and sheets else None,
        "creator": None,
        "lang": None,
        "date": None,
        "n_blocks": len(blocks),
    }


# ---------------------------------------------------------------------------
# PPTX — PresentationML: slide order from sldIdLst + rels, shape text
# paragraphs per slide
# ---------------------------------------------------------------------------


def pptx_extract(data: bytes, max_slides: int = 256) -> dict:
    """PPTX bytes -> {text, n_blocks(=slides)}. Slides in presentation
    order; each a:p paragraph one line, title placeholder first (as the
    slide's heading)."""
    zf = _zip_open(data)
    names = set(zf.namelist())
    if "ppt/presentation.xml" not in names:
        raise ValueError("pptx missing ppt/presentation.xml")
    pres = _xml_root(_zip_read(zf, "ppt/presentation.xml"), "presentation")
    rels: dict[str, str] = {}
    if "ppt/_rels/presentation.xml.rels" in names:
        rroot = _xml_root(
            _zip_read(zf, "ppt/_rels/presentation.xml.rels"), "presentation rels"
        )
        for el in rroot.iter():
            if _local(el.tag) == "Relationship":
                rid, tgt = el.get("Id"), el.get("Target")
                if rid and tgt:
                    rels[rid] = tgt
    slide_paths: list[str] = []
    for el in pres.iter():
        if _local(el.tag) != "sldId":
            continue
        # r:id lives in the relationships namespace; the un-namespaced id
        # attr is the numeric slide id, which must not shadow it
        rid = next(
            (
                v
                for k, v in el.attrib.items()
                if k.endswith("}id") and "relationships" in k.lower()
            ),
            None,
        )
        tgt = rels.get(rid)
        if not tgt:
            continue
        # spec-legal absolute targets ('/ppt/slides/slide1.xml') resolve
        # from the package root, like the xlsx path does
        if tgt.startswith("/"):
            path = posixpath.normpath(tgt[1:])
        else:
            path = posixpath.normpath(posixpath.join("ppt", tgt))
        if path in names:
            slide_paths.append(path)
    if not slide_paths:  # rels missing: fall back to numeric slide order
        slide_paths = sorted(
            (n for n in names if re.fullmatch(r"ppt/slides/slide\d+\.xml", n)),
            key=lambda p: int(re.search(r"(\d+)", p).group(1)),
        )
    blocks: list[str] = []
    n_slides = 0
    for path in slide_paths[:max_slides]:
        sl = _xml_root(_zip_read(zf, path), f"slide {path}")
        paras: list[tuple[bool, str]] = []  # (is_title, line)
        for sp in sl.iter():
            if _local(sp.tag) != "sp":
                continue
            is_title = any(
                _local(e.tag) == "ph" and e.get("type") in ("title", "ctrTitle")
                for e in sp.iter()
            )
            for p in sp.iter():
                if _local(p.tag) != "p":
                    continue
                line = "".join(
                    t.text or "" for t in p.iter() if _local(t.tag) == "t"
                ).strip()
                if line:
                    paras.append((is_title, line))
        if paras:
            n_slides += 1
            paras.sort(key=lambda x: not x[0])  # titles first, stable
            for is_title, line in paras:
                blocks.append(("# " + line) if is_title else line)
    return {
        "text": "\n".join(blocks),
        "title": blocks[0][2:] if blocks and blocks[0].startswith("# ") else None,
        "creator": None,
        "lang": None,
        "date": None,
        "n_blocks": n_slides,
    }


# ---------------------------------------------------------------------------
# format sniffing + the one-stage Spark surface
# ---------------------------------------------------------------------------


def document_sniff(data: bytes) -> str | None:
    """Magic-byte + container-structure sniff -> 'docx'|'epub'|'odt'|'rtf'|
    'tex'|None. Never raises: a sniff failure is simply 'not ours'."""
    if not data:
        return None
    if data[:5] == b"{\\rtf":
        return "rtf"
    if data.lstrip()[:5] == b"%PDF-":
        return "pdf"
    if data[:4] == b"PK\x03\x04":
        try:
            zf = zipfile.ZipFile(io.BytesIO(data))
            names = set(zf.namelist())
        except Exception:
            return None
        if "mimetype" in names:
            try:
                mt = _zip_read(zf, "mimetype", 256).strip()
            except ValueError:
                mt = b""
            if mt == b"application/epub+zip":
                return "epub"
            if mt == b"application/vnd.oasis.opendocument.text":
                return "odt"
        if "word/document.xml" in names:
            return "docx"
        if "xl/workbook.xml" in names:
            return "xlsx"
        if "ppt/presentation.xml" in names:
            return "pptx"
        if "META-INF/container.xml" in names:
            return "epub"
        if "content.xml" in names:
            return "odt"
        return None
    head = data[:4096].decode("utf-8", errors="replace")
    if "\\documentclass" in head or "\\begin{document}" in head:
        return "tex"
    if data.lstrip()[:5] == b"From " and re.search(
        r"^[A-Za-z-]+:", head, re.M
    ):
        # MBOX envelope framing BEFORE the bare-message check: an archive
        # parsed as one eml would embed later messages' raw headers in the
        # text (the mail_messages surface gives the per-message rows; this
        # surface gives the archive-level document view)
        return "mbox"
    # RFC 5322 message: at least two standard headers at line starts in
    # the head (guards against HTTP responses and random 'Key: value' text)
    n_hdrs = len(
        re.findall(
            r"^(?:From|To|Subject|Date|Message-ID|Received|MIME-Version|"
            r"Return-Path|Delivered-To):",
            head,
            re.M | re.I,
        )
    )
    if n_hdrs >= 2:
        return "eml"
    return None


def eml_document_extract(data: bytes) -> dict:
    """Adapter: sources.mail.eml_extract -> the document-text row shape
    (title=Subject, creator=From, n_blocks=MIME parts)."""
    from ocr_spark.sources.mail import eml_extract

    info = eml_extract(data)
    text = info["text"]
    return {
        "title": info["subject"],
        "creator": info["sender"],
        "lang": None,
        "date": info["date"],
        "text": text,
        "n_chars": len(text),
        "n_blocks": info["n_parts"],
    }


def mbox_document_extract(data: bytes) -> dict:
    """Archive-level view of an MBOX: every message's body concatenated
    (subject headings preserved), title/creator/date from the first
    message, n_blocks = message count. Per-message failures are skipped —
    the remaining messages still extract (the per-message row surface is
    `sources.mail.mail_messages`)."""
    from ocr_spark.sources.mail import eml_extract, mbox_split

    blocks: list[str] = []
    first: dict | None = None
    n_ok = 0
    for raw in mbox_split(data):
        try:
            info = eml_extract(raw)
        except ValueError:
            continue
        n_ok += 1
        if first is None:
            first = info
        part = info["text"]
        if info["subject"]:
            part = f"{info['subject']}\n\n{part}" if part else info["subject"]
        if part:
            blocks.append(part)
    if first is None:
        raise ValueError("MBOX archive contains no parseable message")
    text = "\n\n".join(blocks)
    return {
        "title": first["subject"],
        "creator": first["sender"],
        "lang": None,
        "date": first["date"],
        "text": text,
        "n_chars": len(text),
        "n_blocks": n_ok,
    }


_EXTRACTORS = {
    "docx": docx_extract,
    "epub": epub_extract,
    "odt": odt_extract,
    "rtf": rtf_extract,
    "tex": latex_extract,
    "pdf": pdf_text_extract,
    "xlsx": xlsx_extract,
    "pptx": pptx_extract,
    "eml": eml_document_extract,
    "mbox": mbox_document_extract,
}

DOC_TEXT_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("creator", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_chars", T.IntegerType(), True),
        T.StructField("n_blocks", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)
_DOC_COLS = [f.name for f in DOC_TEXT_SCHEMA.fields]


def extract_document_bytes(data: bytes) -> dict:
    """Sniff + extract one payload; ValueError on unrecognized formats (the
    envelope catches it). The scalar core the Spark surface batches."""
    fmt = document_sniff(data)
    if fmt is None:
        raise ValueError("unrecognized document format")
    info = _EXTRACTORS[fmt](data)
    info["format"] = fmt
    return info


def document_text(assets: DataFrame) -> DataFrame:
    """(media_ref, content) -> DOC_TEXT_SCHEMA: one text row per office/
    ebook/markup payload. ONE Arrow-batched mapInPandas stage, zero
    Exchange; per-asset error envelope (a corrupt container degrades to an
    error row, the batch never dies) — the media_probe.py contract."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                row: dict = {k: None for k in _DOC_COLS}
                row["media_ref"] = ref
                try:
                    info = extract_document_bytes(
                        bytes(content) if content is not None else b""
                    )
                    for k in ("format", "title", "creator", "lang", "date", "text"):
                        row[k] = info.get(k)
                    row["n_chars"] = len(info.get("text") or "")
                    row["n_blocks"] = int(info.get("n_blocks") or 0)
                except Exception as e:
                    row["error"] = f"{type(e).__name__}: {e}"
                rows.append(row)
            yield pd.DataFrame(rows, columns=_DOC_COLS)

    return assets.mapInPandas(gen, schema=DOC_TEXT_SCHEMA)


# ---------------------------------------------------------------------------
# fixture synthesizers — real containers, zero third-party media
# ---------------------------------------------------------------------------


def _zip_bytes(entries: list[tuple[str, bytes]], first_stored: bool = False) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for i, (name, data) in enumerate(entries):
            comp = zipfile.ZIP_STORED if (first_stored and i == 0) else zipfile.ZIP_DEFLATED
            zf.writestr(zipfile.ZipInfo(name), data, compress_type=comp)
    return buf.getvalue()


def synth_docx(
    paragraphs: list,
    title: str | None = None,
    creator: str | None = None,
    table: list[list[str]] | None = None,
) -> bytes:
    """Minimal real DOCX. `paragraphs` items are either plain strings or
    (style, text) pairs where style is 'Heading1'.. or 'list'/'list2'."""

    def esc(s: str) -> str:
        return (
            s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    body: list[str] = []
    for p in paragraphs:
        style, text = (p if isinstance(p, tuple) else (None, p))
        ppr = ""
        if style and style.startswith("Heading"):
            ppr = f'<w:pPr><w:pStyle w:val="{style}"/></w:pPr>'
        elif style and style.startswith("list"):
            lvl = int(style[4:] or 1) - 1 if len(style) > 4 else 0
            ppr = (
                f'<w:pPr><w:numPr><w:ilvl w:val="{lvl}"/>'
                '<w:numId w:val="1"/></w:numPr></w:pPr>'
            )
        # split text across two runs to prove run-joining
        mid = len(text) // 2
        runs = (
            f'<w:r><w:t xml:space="preserve">{esc(text[:mid])}</w:t></w:r>'
            f'<w:r><w:t xml:space="preserve">{esc(text[mid:])}</w:t></w:r>'
        )
        body.append(f"<w:p>{ppr}{runs}</w:p>")
    if table:
        rows = "".join(
            "<w:tr>"
            + "".join(
                f"<w:tc><w:p><w:r><w:t>{esc(c)}</w:t></w:r></w:p></w:tc>"
                for c in row
            )
            + "</w:tr>"
            for row in table
        )
        body.append(f"<w:tbl>{rows}</w:tbl>")
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">'
        f"<w:body>{''.join(body)}</w:body></w:document>"
    )
    core = (
        '<?xml version="1.0"?>'
        '<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/metadata/core-properties" '
        'xmlns:dc="http://purl.org/dc/elements/1.1/" xmlns:dcterms="http://purl.org/dc/terms/">'
        + (f"<dc:title>{esc(title)}</dc:title>" if title else "")
        + (f"<dc:creator>{esc(creator)}</dc:creator>" if creator else "")
        + "<dcterms:created>2024-01-01T00:00:00Z</dcterms:created>"
        "</cp:coreProperties>"
    )
    ct = (
        '<?xml version="1.0"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/></Types>'
    )
    return _zip_bytes(
        [
            ("[Content_Types].xml", ct.encode()),
            ("word/document.xml", doc.encode()),
            ("docProps/core.xml", core.encode()),
        ]
    )


def synth_epub(
    chapters: list[tuple[str, str]],
    title: str = "Book",
    creator: str | None = None,
    lang: str = "en",
    subdir: str = "OEBPS",
) -> bytes:
    """Minimal real EPUB: mimetype (stored first, per OCF), container.xml,
    OPF with manifest+spine, one XHTML file per (name, body_html) chapter."""
    items, refs, files = [], [], []
    for i, (name, body) in enumerate(chapters):
        href = f"text/{name}.xhtml"
        items.append(
            f'<item id="c{i}" href="{href}" media-type="application/xhtml+xml"/>'
        )
        refs.append(f'<itemref idref="c{i}"/>')
        xhtml = (
            "<?xml version='1.0' encoding='utf-8'?>"
            '<html xmlns="http://www.w3.org/1999/xhtml"><head>'
            f"<title>{name}</title></head><body>{body}</body></html>"
        )
        files.append((f"{subdir}/{href}", xhtml.encode()))
    opf = (
        '<?xml version="1.0"?>'
        '<package xmlns="http://www.idpf.org/2007/opf" version="3.0" unique-identifier="id">'
        '<metadata xmlns:dc="http://purl.org/dc/elements/1.1/">'
        f"<dc:title>{title}</dc:title><dc:language>{lang}</dc:language>"
        + (f"<dc:creator>{creator}</dc:creator>" if creator else "")
        + '<dc:identifier id="id">urn:uuid:0</dc:identifier></metadata>'
        f"<manifest>{''.join(items)}</manifest><spine>{''.join(refs)}</spine></package>"
    )
    container = (
        '<?xml version="1.0"?>'
        '<container version="1.0" xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
        f'<rootfiles><rootfile full-path="{subdir}/content.opf" '
        'media-type="application/oebps-package+xml"/></rootfiles></container>'
    )
    return _zip_bytes(
        [
            ("mimetype", b"application/epub+zip"),
            ("META-INF/container.xml", container.encode()),
            (f"{subdir}/content.opf", opf.encode()),
        ]
        + files,
        first_stored=True,
    )


def synth_odt(
    paragraphs: list,
    title: str | None = None,
    table: list[list[str]] | None = None,
) -> bytes:
    """Minimal real ODT. `paragraphs` items: plain strings, ('h', lvl, text)
    headings, or ('list', [items...])."""

    def esc(s: str) -> str:
        return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    t = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
    tb = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
    o = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"
    body: list[str] = []
    for p in paragraphs:
        if isinstance(p, tuple) and p[0] == "h":
            body.append(
                f'<text:h text:outline-level="{p[1]}">{esc(p[2])}</text:h>'
            )
        elif isinstance(p, tuple) and p[0] == "list":
            lis = "".join(
                f"<text:list-item><text:p>{esc(x)}</text:p></text:list-item>"
                for x in p[1]
            )
            body.append(f"<text:list>{lis}</text:list>")
        else:
            body.append(f"<text:p>{esc(p)}</text:p>")
    if table:
        rows = "".join(
            "<table:table-row>"
            + "".join(
                f"<table:table-cell><text:p>{esc(c)}</text:p></table:table-cell>"
                for c in row
            )
            + "</table:table-row>"
            for row in table
        )
        body.append(f"<table:table>{rows}</table:table>")
    content = (
        '<?xml version="1.0"?>'
        f'<office:document-content xmlns:office="{o}" xmlns:text="{t}" xmlns:table="{tb}">'
        f"<office:body><office:text>{''.join(body)}</office:text></office:body>"
        "</office:document-content>"
    )
    meta = (
        '<?xml version="1.0"?>'
        f'<office:document-meta xmlns:office="{o}" '
        'xmlns:dc="http://purl.org/dc/elements/1.1/"><office:meta>'
        + (f"<dc:title>{title}</dc:title>" if title else "")
        + "</office:meta></office:document-meta>"
    )
    return _zip_bytes(
        [
            ("mimetype", b"application/vnd.oasis.opendocument.text"),
            ("content.xml", content.encode()),
            ("meta.xml", meta.encode()),
        ],
        first_stored=True,
    )


def synth_rtf(paragraphs: list[str], fonttbl: bool = True) -> bytes:
    head = r"{\rtf1\ansi\ansicpg1252\deff0"
    if fonttbl:
        head += r"{\fonttbl{\f0 Times New Roman;}}"
    body = r"\par ".join(
        p.replace("\\", r"\\").replace("{", r"\{").replace("}", r"\}")
        for p in paragraphs
    )
    return (head + " " + body + "}").encode("latin-1", errors="replace")


def synth_xlsx(
    sheets: list[tuple[str, list[list]]], inline: bool = False
) -> bytes:
    """Real XLSX fixture: sheets = [(name, rows of cell values)]. Strings
    go through sharedStrings (or inline <is> when inline=True), numbers
    stay numeric cells, bools become t="b"."""
    def esc(s: str) -> str:
        return (
            str(s).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    shared: list[str] = []
    shared_idx: dict[str, int] = {}
    ws_ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    r_ns = (
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships"'
    )
    sheet_entries = []
    wb_sheets = []
    rels = []
    for si, (name, rows) in enumerate(sheets, start=1):
        cells_xml = []
        for ri, row in enumerate(rows, start=1):
            cs = []
            for ci, val in enumerate(row):
                ref = f"{chr(65 + ci)}{ri}"
                if isinstance(val, bool):
                    cs.append(f'<c r="{ref}" t="b"><v>{int(val)}</v></c>')
                elif isinstance(val, (int, float)):
                    cs.append(f'<c r="{ref}"><v>{val}</v></c>')
                elif inline:
                    cs.append(
                        f'<c r="{ref}" t="inlineStr"><is><t>{esc(val)}</t>'
                        "</is></c>"
                    )
                else:
                    if val not in shared_idx:
                        shared_idx[val] = len(shared)
                        shared.append(val)
                    cs.append(
                        f'<c r="{ref}" t="s"><v>{shared_idx[val]}</v></c>'
                    )
            cells_xml.append(f'<row r="{ri}">{"".join(cs)}</row>')
        sheet_entries.append(
            (
                f"xl/worksheets/sheet{si}.xml",
                (
                    f'<?xml version="1.0"?><worksheet {ws_ns}><sheetData>'
                    f'{"".join(cells_xml)}</sheetData></worksheet>'
                ).encode(),
            )
        )
        wb_sheets.append(
            f'<sheet name="{esc(name)}" sheetId="{si}" r:id="rId{si}"/>'
        )
        rels.append(
            f'<Relationship Id="rId{si}" Type="http://schemas.openxmlformats'
            '.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{si}.xml"/>'
        )
    entries = [
        (
            "xl/workbook.xml",
            (
                f'<?xml version="1.0"?><workbook {ws_ns} {r_ns}><sheets>'
                f'{"".join(wb_sheets)}</sheets></workbook>'
            ).encode(),
        ),
        (
            "xl/_rels/workbook.xml.rels",
            (
                '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
                'openxmlformats.org/package/2006/relationships">'
                f'{"".join(rels)}</Relationships>'
            ).encode(),
        ),
        *sheet_entries,
    ]
    if shared:
        sst = "".join(f"<si><t>{esc(s)}</t></si>" for s in shared)
        entries.append(
            (
                "xl/sharedStrings.xml",
                (
                    f'<?xml version="1.0"?><sst {ws_ns} count="{len(shared)}"'
                    f' uniqueCount="{len(shared)}">{sst}</sst>'
                ).encode(),
            )
        )
    return _zip_bytes(entries)


def synth_pptx(slides: list[tuple[str | None, list[str]]]) -> bytes:
    """Real PPTX fixture: slides = [(title_or_None, body lines)]."""
    def esc(s: str) -> str:
        return (
            str(s).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    a = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
    p = (
        'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
    )
    r = (
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/'
        'relationships"'
    )

    def shape(text_lines: list[str], ph: str | None) -> str:
        ph_xml = f'<p:ph type="{ph}"/>' if ph else ""
        paras = "".join(
            f"<a:p><a:r><a:t>{esc(ln)}</a:t></a:r></a:p>" for ln in text_lines
        )
        return (
            f"<p:sp><p:nvSpPr><p:nvPr>{ph_xml}</p:nvPr></p:nvSpPr>"
            f"<p:txBody>{paras}</p:txBody></p:sp>"
        )

    entries = []
    sld_ids = []
    rels = []
    for i, (title, lines) in enumerate(slides, start=1):
        shapes = (shape([title], "title") if title else "") + shape(lines, None)
        entries.append(
            (
                f"ppt/slides/slide{i}.xml",
                (
                    f'<?xml version="1.0"?><p:sld {p} {a}><p:cSld><p:spTree>'
                    f"{shapes}</p:spTree></p:cSld></p:sld>"
                ).encode(),
            )
        )
        sld_ids.append(f'<p:sldId id="{255 + i}" r:id="rId{i}"/>')
        rels.append(
            f'<Relationship Id="rId{i}" Type="http://schemas.openxmlformats'
            '.org/officeDocument/2006/relationships/slide" '
            f'Target="slides/slide{i}.xml"/>'
        )
    entries.insert(
        0,
        (
            "ppt/presentation.xml",
            (
                f'<?xml version="1.0"?><p:presentation {p} {r}>'
                f'<p:sldIdLst>{"".join(sld_ids)}</p:sldIdLst></p:presentation>'
            ).encode(),
        ),
    )
    entries.insert(
        1,
        (
            "ppt/_rels/presentation.xml.rels",
            (
                '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
                'openxmlformats.org/package/2006/relationships">'
                f'{"".join(rels)}</Relationships>'
            ).encode(),
        ),
    )
    return _zip_bytes(entries)
