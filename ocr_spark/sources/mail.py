"""Email archive ingestion: EML (RFC 5322/2045 MIME) and MBOX containers.

Mailing-list archives and mail-dump corpora (enron-class) are a standard
web-scale training-data source; a crawl also meets `message/rfc822`
payloads inside WARCs. This module turns both into the same per-message
row shape the rest of the corpus pipeline consumes:

- `eml_extract(data)` — ONE message: MIME walk with multipart/alternative
  preference (text/plain wins, text/html falls back through the repo's
  boilerplate-stripping block extractor), RFC 2047 header decoding,
  quoted-printable/base64 transfer decoding, nested message/rfc822
  recursion (bounded), attachment accounting.
- `mbox_split(data)` — the classic `From ` envelope framing, including
  mboxrd `>From ` unquoting, producing the raw bytes of each message.
- `mail_messages(df)` — the Spark surface: ONE Arrow-batched mapInPandas
  stage over (doc_id, payload) exploding EML/MBOX payloads into
  per-message rows with per-message error envelopes (a malformed message
  yields its error row; its archive siblings survive). Zero shuffles: a
  100 TB mail corpus partitions by archive file and scales embarrassingly.

Everything rides on the stdlib `email` package (public, battle-tested
RFC parsing) — same policy as zipfile/zlib elsewhere in this repo.

Reference parity anchor: the reference's acquisition accepts any readable
input; mail archives are the acquisition surface for the mail-corpus slice
of a training build.
"""

from __future__ import annotations

import re
from email import policy
from email.message import EmailMessage
from email.parser import BytesParser
from email.utils import parsedate_to_datetime
from typing import Iterator

import pyspark.sql.types as T
from pyspark.sql import DataFrame

_MAX_NESTED = 4  # message/rfc822 recursion bound (mail bombs)
_MAX_PARTS = 256  # MIME part walk bound per message

MAIL_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("subject", T.StringType(), True),
        T.StructField("sender", T.StringType(), True),
        T.StructField("recipients", T.StringType(), True),
        T.StructField("date", T.StringType(), True),
        T.StructField("message_id", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_chars", T.IntegerType(), True),
        T.StructField("n_parts", T.IntegerType(), True),
        T.StructField("n_attachments", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)
_COLS = [f.name for f in MAIL_SCHEMA.fields]


def _header(msg: EmailMessage, name: str) -> str | None:
    """RFC 2047-decoded header value, None when absent/undecodable."""
    try:
        v = msg.get(name)
    except Exception:
        return None
    if v is None:
        return None
    s = str(v).strip()
    return s or None


def _part_text(part: EmailMessage) -> str | None:
    """Decoded text of one leaf part (transfer encoding + charset)."""
    try:
        return part.get_content()
    except Exception:
        # unknown charset / broken transfer coding: salvage bytes
        try:
            raw = part.get_payload(decode=True)
        except Exception:
            return None
        if raw is None:
            return None
        return raw.decode("utf-8", errors="replace")


def _walk(msg: EmailMessage, out: list[str], stats: dict, depth: int) -> None:
    """Collect body text depth-first with multipart/alternative preference."""
    if stats["parts"] >= _MAX_PARTS:
        return
    stats["parts"] += 1
    ctype = msg.get_content_type()
    if ctype == "message/rfc822":
        # NOTE checked before is_multipart(): an rfc822 container also
        # reports multipart (its payload is a list), and the generic
        # multipart branch would skip the Forwarded header + depth bound
        if depth >= _MAX_NESTED:
            stats["attachments"] += 1
            return
        payload = msg.get_payload()
        inner = payload[0] if isinstance(payload, list) and payload else None
        if inner is not None:
            subj = _header(inner, "Subject")
            if subj:
                out.append(f"Forwarded: {subj}")
            _walk(inner, out, stats, depth + 1)
        return
    if msg.is_multipart():
        parts = msg.get_payload()
        if ctype == "multipart/alternative":
            # prefer the LAST alternative we can use, text/plain first
            # (RFC 2046: alternatives ordered by increasing faithfulness) —
            # but a preferred part that CONTRIBUTES NOTHING (whitespace-only
            # text/plain stubs are common in newsletter mail) falls through
            # to the next preference instead of suppressing real content
            before = len(out)
            for want in ("text/plain", "text/html"):
                for p in reversed(parts):
                    if p.get_content_type() == want:
                        _walk(p, out, stats, depth)
                        if len(out) > before:
                            return
                        break  # empty: try the next preference
            if len(out) == before and parts:
                _walk(parts[-1], out, stats, depth)
            return
        for p in parts:
            _walk(p, out, stats, depth)
        return
    disp = (msg.get_content_disposition() or "").lower()
    if disp == "attachment" or ctype.startswith(
        ("image/", "audio/", "video/", "application/")
    ):
        stats["attachments"] += 1
        return
    if ctype == "text/plain":
        text = _part_text(msg)
        if text and text.strip():
            out.append(text.strip())
    elif ctype == "text/html":
        html = _part_text(msg)
        if html and html.strip():
            from ocr_spark.operators.doc_formats import _html_all_blocks

            blocks = _html_all_blocks(html)
            if blocks.strip():
                out.append(blocks.strip())
    elif ctype.startswith("text/"):
        text = _part_text(msg)
        if text and text.strip():
            out.append(text.strip())
    else:
        stats["attachments"] += 1


def eml_extract(data: bytes) -> dict:
    """One RFC 5322 message -> {subject, sender, recipients, date,
    message_id, text, n_parts, n_attachments}. Raises ValueError for
    payloads that are not a mail message (no recognizable headers)."""
    if not data or not data.strip():
        raise ValueError("empty mail payload")
    try:
        msg = BytesParser(policy=policy.default).parsebytes(data)
    except Exception as e:  # the lenient parser rarely throws; normalize
        raise ValueError(f"unparseable mail message: {e}") from None
    # the stdlib parser never fails outright — demand real message shape
    if not (msg.get("From") or msg.get("Subject") or msg.get("Message-ID")
            or msg.get("To") or msg.get("Received")):
        raise ValueError("not a mail message (no RFC 5322 headers)")
    out: list[str] = []
    stats = {"parts": 0, "attachments": 0}
    _walk(msg, out, stats, 0)
    date = None
    try:
        d = msg.get("Date")
        if d:
            date = parsedate_to_datetime(str(d)).isoformat()
    except Exception:
        date = _header(msg, "Date")
    recipients = ", ".join(
        v for v in (_header(msg, "To"), _header(msg, "Cc")) if v
    ) or None
    text = "\n\n".join(out)
    return {
        "subject": _header(msg, "Subject"),
        "sender": _header(msg, "From"),
        "recipients": recipients,
        "date": date,
        "message_id": _header(msg, "Message-ID"),
        "text": text,
        "n_chars": len(text),
        "n_parts": stats["parts"],
        "n_attachments": stats["attachments"],
    }


_FROM_LINE = re.compile(rb"^From .*\r?\n", re.M)


def mbox_split(data: bytes) -> list[bytes]:
    """Split an MBOX archive into raw message bytes. Boundaries are
    `From ` envelope lines at file start or right after a blank line
    (so a body line starting 'From ' without mboxrd quoting cannot split
    a message); `>From ` quoting is undone per mboxrd."""
    if not data.lstrip()[:5] == b"From ":
        raise ValueError("not an MBOX archive (no leading 'From ' line)")
    starts: list[int] = []
    for m in _FROM_LINE.finditer(data):
        i = m.start()
        # bounded endswith: the prefix-slice form copies the whole prefix
        # per candidate (O(n * messages) on an Enron-class archive)
        if i == 0 or data.endswith((b"\n\n", b"\r\n\r\n"), 0, i):
            starts.append(i)
    if not starts or starts[0] != 0:
        starts.insert(0, 0)
    msgs: list[bytes] = []
    for k, s in enumerate(starts):
        e = starts[k + 1] if k + 1 < len(starts) else len(data)
        seg = data[s:e]
        # drop the envelope line, unquote mboxrd '>From ' (strip ONE '>')
        nl = seg.find(b"\n")
        body = seg[nl + 1 :] if nl >= 0 else b""
        body = re.sub(rb"^>(>*From )", rb"\1", body, flags=re.M)
        body = body.rstrip(b"\n\r") + b"\n"
        if body.strip():
            msgs.append(body)
    return msgs


def mail_messages(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Spark surface: explode (doc_id, payload latin-1 str) EML/MBOX
    payloads into per-message rows (media_ref = '<doc_id>#m<i>'), one
    Arrow-batched mapInPandas stage, per-message error envelopes."""
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: list[dict] = []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    rows.append(_err_row(f"{did}#m0", "null payload"))
                    continue
                raw = payload.encode("latin-1", "replace")
                try:
                    parts = (
                        mbox_split(raw)
                        if raw.lstrip()[:5] == b"From "
                        else [raw]
                    )
                except ValueError as e:
                    rows.append(_err_row(f"{did}#m0", str(e)))
                    continue
                for i, m in enumerate(parts):
                    ref = f"{did}#m{i}"
                    try:
                        info = eml_extract(m)
                    except ValueError as e:
                        rows.append(_err_row(ref, str(e)))
                        continue
                    info["media_ref"] = ref
                    info["error"] = None
                    rows.append(info)
            yield pd.DataFrame(
                {c: [r.get(c) for r in rows] for c in _COLS}
            )

    return df.mapInPandas(gen, schema=MAIL_SCHEMA)


def _err_row(ref: str, err: str) -> dict:
    return {"media_ref": ref, "error": f"ValueError: {err}"}


# ---------------------------------------------------------------------------
# fixture writers (stdlib EmailMessage -> real RFC 5322/MIME wire bytes)
# ---------------------------------------------------------------------------


def synth_eml(
    subject: str = "hello",
    sender: str = "a@example.com",
    to: str = "b@example.com",
    text: str | None = "plain body",
    html: str | None = None,
    attachments: int = 0,
    date: str = "Fri, 21 Aug 2026 12:00:00 +0000",
) -> bytes:
    """A real multipart message via the stdlib generator."""
    msg = EmailMessage()
    msg["Subject"] = subject
    msg["From"] = sender
    msg["To"] = to
    msg["Date"] = date
    msg["Message-ID"] = f"<{abs(hash((subject, sender, text))) % 10**12}@example.com>"
    if text is not None:
        msg.set_content(text)
    if html is not None:
        if text is not None:
            msg.add_alternative(html, subtype="html")
        else:
            msg.set_content(html, subtype="html")
    for i in range(attachments):
        msg.add_attachment(
            bytes([i]) * 64, maintype="application", subtype="octet-stream",
            filename=f"blob{i}.bin",
        )
    return msg.as_bytes()


def synth_mbox(messages: list[bytes]) -> bytes:
    """A real mbox archive: `From ` envelope framing + mboxrd quoting."""
    out = bytearray()
    for m in messages:
        out += b"From corpus@example Fri Aug 21 12:00:00 2026\n"
        out += re.sub(rb"^(>*From )", rb">\1", m, flags=re.M)
        if not out.endswith(b"\n"):
            out += b"\n"
        out += b"\n"
    return bytes(out)
