"""Media and codec cases: audio, office documents, EXIF, fax, mail, PDF
images, MP4 frame index, and the detection map's connected components.

Every Spark case synthesizes its assets executor-side (real container
bytes through the real encoders) with `synth_rows`, then checks the
operator's output against closed-form expectations row by row.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ocr_spark.operators.audio_codecs import wav_decode, wav_encode
from ocr_spark.operators.audio_tags import (
    add_wav_info,
    audio_tags,
    synth_id3v2,
    synth_ogg_tagged,
)
from ocr_spark.operators.db_detect import _overlap_pairs, connected_components
from ocr_spark.operators.doc_formats import (
    document_text,
    synth_docx,
    synth_epub,
    synth_odt,
    synth_pptx,
    synth_rtf,
    synth_xlsx,
)
from ocr_spark.operators.exif import exif_build, image_exif, insert_exif, strip_exif_pii
from ocr_spark.operators.image_codecs import jpeg_encode, tiff_encode
from ocr_spark.operators.media_probe import synth_mp4
from ocr_spark.operators.multimodal import (
    audio_segments,
    audio_standardize,
    image_features,
    pdf_image_assets,
    video_frame_index,
)
from ocr_spark.operators.pdf_crypt import encrypt_pdf
from ocr_spark.operators.pdf_layout import pdf_write_images
from ocr_spark.sources.mail import mail_messages, synth_eml, synth_mbox

from . import phase


def synth_rows(spark, n: int, schema: str, **cols):
    """n rows built executor-side, column ``c`` being ``cols[c](id)``, over 4
    tasks per core; persisted and counted so later phases time only the
    operator under test."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame({c: [f(i) for i in ids] for c, f in cols.items()})

    cpus = spark.sparkContext.defaultParallelism
    df = spark.range(n).repartition(4 * cpus).mapInPandas(gen, schema=schema).persist()
    assert df.count() == n
    return df


# (rate, channels, n_samples) rotation — every duration ~0.25 s
STD_CONFIGS = [(8000, 1, 2000), (22050, 1, 5500), (44100, 2, 11000)]


def bench_audio_standardize(spark, n: int) -> dict:
    """Audio standardization (operators/multimodal.audio_standardize): n
    synthetic WAV assets at mixed source rates/channels (8 kHz mono,
    22.05 kHz mono, 44.1 kHz stereo — real RIFF bytes) carry one pure tone
    each; the standardizer decodes, downmixes, Fourier-resamples to 16 kHz,
    normalizes, and re-encodes in ONE Arrow stage.

    Exactness is closed-form and row-wise:
    - n rows, zero errors; sample_rate 16000 everywhere;
    - n_samples equals src_n * 16000 // src_rate from the per-asset
      arithmetic (checked row-wise against the aid parsed out of media_ref);
    - src_rate / src_channels equal the rotation's arithmetic;
    - every planted tone sits below 4 kHz, so it survives resampling: the
      normalized output peak must be within 0.06 dB of the -1 dBFS target on
      every row (peak_ok count == n)."""

    def payload(aid: int) -> bytes:
        rate, ch, ns = STD_CONFIGS[aid % 3]
        freq = 200.0 + (aid % 37) * 100.0  # 200..3800 Hz, below 4 kHz
        amp = 0.2 + (aid % 7) * 0.1
        x = amp * np.sin(2 * np.pi * freq * np.arange(ns) / rate)
        pcm = (np.stack([x] * ch, axis=1) * 32767).astype(np.int16)
        return wav_encode(pcm, rate)

    fig: dict = {}
    with phase(fig, "synth"):
        assets = synth_rows(
            spark, n, "media_ref string, content binary",
            media_ref=lambda d: f"a{d}.wav", content=payload,
        )

    def peaks(batches):
        # row-wise peak check needs the decoded payload: one more Arrow stage
        for pdf in batches:
            ok = []
            for content in pdf["content"]:
                x, _ = wav_decode(bytes(content))
                pk = 20 * np.log10(np.abs(x[:, 0]).max() / 32768.0)
                ok.append(bool(abs(pk - (-1.0)) < 0.06))
            yield pd.DataFrame({"peak_ok": ok})

    with phase(fig, "standardize"):
        out = audio_standardize(assets, target_rate=16000, peak_dbfs=-1.0)
        aid = F.regexp_extract("media_ref", r"a(\d+)\.wav", 1).cast("long")
        slot = (aid % 3 + 1).cast("int")
        rate_exp = F.element_at(F.array(*[F.lit(r) for r, _, _ in STD_CONFIGS]), slot)
        ch_exp = F.element_at(F.array(*[F.lit(c) for _, c, _ in STD_CONFIGS]), slot)
        ns_exp = (
            F.element_at(F.array(*[F.lit(s) for _, _, s in STD_CONFIGS]), slot)
            * 16000
            / rate_exp
        ).cast("long")
        agg = out.agg(
            F.count("*").alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
            F.sum((F.col("sample_rate") != 16000).cast("long")).alias("bad_rate"),
            F.sum((F.col("src_rate") != rate_exp).cast("long")).alias("bad_src"),
            F.sum((F.col("src_channels") != ch_exp).cast("long")).alias("bad_ch"),
            F.sum((F.col("n_samples") != ns_exp).cast("long")).alias("bad_ns"),
        ).first()
        n_peak_ok = (
            out.select("content")
            .mapInPandas(peaks, schema="peak_ok boolean")
            .agg(F.sum(F.col("peak_ok").cast("long")))
            .first()[0]
        )
    assets.unpersist()

    assert agg["rows"] == n and agg["errs"] == 0, agg
    assert agg["bad_rate"] == 0 and agg["bad_src"] == 0, agg
    assert agg["bad_ch"] == 0 and agg["bad_ns"] == 0, agg
    assert n_peak_ok == n, (n_peak_ok, n)
    return fig


LANGS = ["en", "ja", "de", "fr", "ta"]


def bench_audio_tags(spark, n: int) -> dict:
    """Audio provenance tags (operators/audio_tags): n assets synthesized
    executor-side rotating four container shapes — ID3v2-tagged MP3
    (aid%4==0), INFO-tagged WAV (1), comment-tagged Ogg Vorbis/Opus (2), and
    untagged WAV (3) — each tagged asset carrying per-asset values (title
    "t{aid}", language from a 5-slot rotation).

    Exactness is closed-form:
      * n rows, zero errors;
      * untagged count == |{aid % 4 == 3}| with all-None fields;
      * every tagged row's title equals "t{aid}" (checked row-wise against
        the aid parsed back out of media_ref — zero mismatches);
      * per-language counts equal the rotation's arithmetic."""
    base_wav = wav_encode((np.arange(400) % 128 * 100).astype(np.int16)[:, None], 8000)
    mp3_body = b"\xff\xfb\x90\x00" + b"\x00" * 64

    def payload(aid: int) -> bytes:
        tags = {"title": f"t{aid}", "language": LANGS[aid % 5], "artist": f"a{aid % 17}"}
        kind = aid % 4
        if kind == 0:
            return synth_id3v2(tags, version=2 + aid % 3) + mp3_body
        if kind == 1:
            return add_wav_info(base_wav, tags)
        if kind == 2:
            return synth_ogg_tagged(tags, codec="vorbis" if aid % 8 < 4 else "opus")
        return base_wav

    fig: dict = {}
    with phase(fig, "synth"):
        assets = synth_rows(
            spark, n, "media_ref string, content binary",
            media_ref=lambda a: f"a{a}.bin", content=payload,
        )

    with phase(fig, "tag"):
        out = audio_tags(assets)
        aid = F.regexp_extract("media_ref", r"a(\d+)\.bin", 1).cast("long")
        tagged = aid % 4 != 3
        agg = out.agg(
            F.count("*").alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
            F.sum((~tagged & F.col("title").isNotNull()).cast("long")).alias("phantom"),
            F.sum(
                (tagged & (F.col("title") != F.concat(F.lit("t"), aid))).cast("long")
            ).alias("bad_title"),
            F.sum((tagged & F.col("title").isNull()).cast("long")).alias("lost"),
            F.sum((tagged & (F.col("language") == "ja")).cast("long")).alias("ja"),
        ).first()
    assets.unpersist()

    exp_ja = sum(1 for a in range(n) if a % 4 != 3 and a % 5 == 1)
    assert agg["rows"] == n and agg["errs"] == 0, agg
    assert agg["phantom"] == 0 and agg["bad_title"] == 0 and agg["lost"] == 0, agg
    assert agg["ja"] == exp_ja, (agg["ja"], exp_ja)
    return fig


VAD_SR = 8000
VAD_FRAME_MS = 25
VAD_SPF = VAD_SR * VAD_FRAME_MS // 1000  # 200 samples/frame
VAD_GAP_FRAMES = 10  # > min_gap (150 ms = 6 frames): never bridged
VAD_LEAD_FRAMES = 4
VAD_FMTS = ("pcm16", "ulaw", "alaw")


def _utts(aid: int) -> int:
    return 1 + aid % 3


def _seg_frames(aid: int, i: int) -> int:
    # 8..11 frames = 200..275 ms, all >= min_len (200 ms)
    return 8 + (aid + i) % 4


def _total_frames(aid: int) -> int:
    return VAD_LEAD_FRAMES + sum(
        _seg_frames(aid, i) + VAD_GAP_FRAMES for i in range(_utts(aid))
    )


def synth_vad_wav(aid: int) -> bytes:
    """Frame-aligned utterance pattern: LEAD silence, then per utterance a
    constant-amplitude burst followed by GAP silence. Encoding rotates
    pcm16 / ulaw / alaw by aid % 3."""
    x = np.zeros(_total_frames(aid) * VAD_SPF, dtype=np.int16)
    pos = VAD_LEAD_FRAMES
    a = 8000 + (aid % 5) * 1000
    for i in range(_utts(aid)):
        nf = _seg_frames(aid, i)
        x[pos * VAD_SPF : (pos + nf) * VAD_SPF] = a
        pos += nf + VAD_GAP_FRAMES
    return wav_encode(x, VAD_SR, fmt=VAD_FMTS[aid % 3])


def bench_audio_vad(spark, n: int) -> dict:
    """Energy-VAD audio segmentation (operators/multimodal.audio_segments):
    n synthetic WAV assets are synthesized executor-side (real RIFF bytes, a
    deterministic mix of PCM / G.711 mu-law / G.711 A-law encodings through
    the real codecs), then the VAD decodes, frames, thresholds, and emits
    per-segment rows in ONE Arrow stage — no shuffle, no driver loop.

    Exactness is closed-form (utterances are planted frame-aligned with
    exact silence between them, so every quantity below is decided by the
    synth parameters):
    - rows: sum over assets of utterances(aid) segment rows, zero errors,
      zero accounting rows (every asset has speech);
    - boundaries: every (start_sec, end_sec) lands exactly on the planted
      frame grid — sum of segment durations equals the planted total;
    - n_segments on every row equals utterances(aid);
    - clip_ratio == 0 everywhere (amplitudes are planted below full scale);
    - on the PCM subset (aid % 3 == 0): per-row peak equals the planted
      amplitude / 32768 exactly (companded encodings are lossy by design, so
      the bit-exact check is scoped to the lossless rows — their structure
      asserts are identical).

    Silence is exactly zero: mu-law and A-law both map 0 to a decoded value
    at or below 1/4096, under the VAD's -60 dBFS absolute floor, so the
    planted activity pattern survives companding and segment boundaries
    stay exact on every encoding."""
    fig: dict = {}
    with phase(fig, "synth"):
        assets = synth_rows(
            spark, n, "media_ref string, content binary",
            media_ref=lambda a: f"a{a}.wav", content=synth_vad_wav,
        )

    # closed-form expectations
    exp_rows = sum(_utts(a) for a in range(n))
    exp_speech_sec = sum(
        _seg_frames(a, i) for a in range(n) for i in range(_utts(a))
    ) * VAD_FRAME_MS / 1000.0
    audio_sec = sum(_total_frames(a) for a in range(n)) * VAD_FRAME_MS / 1000.0
    fig["audio_hours"] = round(audio_sec / 3600, 2)

    with phase(fig, "vad"):
        segs = audio_segments(assets).persist()
        aid = F.regexp_extract("media_ref", r"a(\d+)\.wav", 1).cast("long")
        agg = segs.agg(
            F.count("*").alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
            F.sum((F.col("seg_idx").isNull()).cast("long")).alias("acct"),
            F.sum((F.col("n_segments") != 1 + aid % 3).cast("long")).alias("bad_nseg"),
            F.sum(F.col("end_sec") - F.col("start_sec")).alias("speech"),
            # frame-grid alignment: start/end are multiples of 25 ms (x*40 is
            # an integer up to float ulp — the recomposed product differs by
            # 1 ulp)
            F.sum(
                (
                    (F.abs(F.col("start_sec") * 40 - F.round(F.col("start_sec") * 40)) > 1e-9)
                    | (F.abs(F.col("end_sec") * 40 - F.round(F.col("end_sec") * 40)) > 1e-9)
                ).cast("long")
            ).alias("offgrid"),
            F.sum((F.col("clip_ratio") != 0.0).cast("long")).alias("clipped"),
            # lossless subset: peak must equal the planted amplitude exactly
            F.sum(
                (
                    (aid % 3 == 0)
                    & (F.col("peak") != (8000 + (aid % 5) * 1000) / F.lit(32768.0))
                ).cast("long")
            ).alias("bad_peak"),
        ).first()
    segs.unpersist()
    assets.unpersist()

    assert agg["rows"] == exp_rows, (agg["rows"], exp_rows)
    assert agg["errs"] == 0 and agg["acct"] == 0 and agg["bad_nseg"] == 0
    assert agg["offgrid"] == 0 and agg["clipped"] == 0
    assert agg["bad_peak"] == 0
    assert abs(float(agg["speech"]) - exp_speech_sec) < 1e-6 * exp_rows, (
        agg["speech"],
        exp_speech_sec,
    )
    return fig


DOC_FORMATS = ["docx", "epub", "odt", "rtf", "tex", "xlsx", "pptx"]


def _doc_payload(did: int) -> bytes:
    sent = f"payload {did} sentinel"
    body = [
        f"Paragraph one of document {did} with enough words to matter.",
        sent,
        f"Closing remark {did % 97}.",
    ]
    kind = did % 7
    if kind == 0:
        return synth_docx(
            [("Heading1", f"T{did}")] + body, title=f"T{did}",
            table=[["k", str(did % 13)]],
        )
    if kind == 1:
        return synth_epub(
            [("c1", "".join(f"<p>{p}</p>" for p in body)),
             ("c2", f"<p>Second chapter of {did}.</p>")],
            title=f"T{did}",
        )
    if kind == 2:
        return synth_odt(
            [("h", 1, f"T{did}")] + body + [("list", ["alpha", "beta"])],
            title=f"T{did}",
        )
    if kind == 3:
        return synth_rtf(body)
    if kind == 4:
        tex = (
            "\\documentclass{article}\\title{T%d}\\begin{document}"
            "\\section{Intro}\n%s\n\\end{document}"
            % (did, "\n\n".join(body))
        )
        return tex.encode()
    if kind == 5:
        return synth_xlsx([(f"T{did}", [[p] for p in body])])
    return synth_pptx([(f"T{did}", body)])


def bench_doc_formats(spark, n: int) -> dict:
    """Office/ebook/markup extraction (operators/doc_formats): n payloads
    synthesized executor-side rotating the seven formats — DOCX (did%7==0),
    EPUB (1), ODT (2), RTF (3), LaTeX (4), XLSX (5), PPTX (6) — each carrying
    a per-doc sentinel sentence "payload {did} sentinel" plus a title
    "T{did}" where the format records one.

    Exactness is closed-form:
      * n rows, zero errors;
      * every row's sniffed format equals the rotation's arithmetic;
      * every row's text contains its own sentinel (checked row-wise against
        the did parsed back out of media_ref — zero mismatches);
      * titles equal "T{did}" row-wise for every format but RTF, which
        records none."""
    fig: dict = {}
    with phase(fig, "synth"):
        assets = synth_rows(
            spark, n, "media_ref string, content binary",
            media_ref=lambda d: f"d{d}.bin", content=_doc_payload,
        )

    with phase(fig, "extract"):
        out = document_text(assets)
        did = F.regexp_extract("media_ref", r"d(\d+)\.bin", 1).cast("long")
        fmt_expect = F.element_at(
            F.array(*[F.lit(f) for f in DOC_FORMATS]), (did % 7 + 1).cast("int")
        )
        sentinel = F.concat(F.lit("payload "), did, F.lit(" sentinel"))
        titled = did % 7 != 3  # every format but RTF records a title
        agg = out.agg(
            F.count("*").alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
            F.sum((F.col("format") != fmt_expect).cast("long")).alias("bad_fmt"),
            F.sum((~F.col("text").contains(sentinel)).cast("long")).alias("lost"),
            F.sum(
                (titled & (F.col("title") != F.concat(F.lit("T"), did))).cast("long")
            ).alias("bad_title"),
            F.sum("n_chars").alias("chars"),
        ).first()
    assets.unpersist()

    assert agg["rows"] == n and agg["errs"] == 0, agg
    assert agg["bad_fmt"] == 0 and agg["lost"] == 0 and agg["bad_title"] == 0, agg
    fig["total_chars"] = int(agg["chars"])
    return fig


def _gps(aid: int) -> tuple[float, float] | None:
    if aid % 4 != 0:
        return None
    # all four quadrants, deterministic per asset
    lat = (10.0 + (aid % 80)) * (1 if aid % 8 == 0 else -1)
    lon = (20.0 + (aid % 150)) * (1 if aid % 16 < 8 else -1)
    return lat, lon


def _orient(aid: int) -> int:
    return 1 + aid % 8


def bench_exif(spark, n: int) -> dict:
    """EXIF extraction + PII strip (operators/exif): n JPEG assets
    synthesized executor-side from one shared coded-pixel body with
    per-asset EXIF blocks (metadata varies, pixels shared — EXIF work is
    metadata-bound, so this isolates exactly the cost being measured):
      * aid % 2 == 0  -> EXIF present; aid % 4 == 0 -> with a GPS IFD
      * aid % 2 == 1  -> plain JPEG (the no-metadata fast path)

    Exactness is closed-form:
      * image_exif: n rows, zero errors, has_gps count == |{aid: aid%4==0}|,
        orientation sum == planted sum, GPS quadrant signs recovered;
      * strip_exif_pii: total n_bytes_removed == Σ planted segment sizes
        (each asset's APP1 length is decided by its build parameters), every
        output either byte-identical (plain) or exactly segment-shorter, and
        re-parsing a stripped payload yields the all-None dict."""
    base = jpeg_encode(
        (np.arange(64 * 64).reshape(64, 64) % 256).astype(np.uint8), quality=85
    )

    def payload(aid: int) -> bytes:
        if aid % 2:
            return base
        return insert_exif(
            base,
            exif_build(model=f"SC-{aid % 97}", orientation=_orient(aid), gps=_gps(aid)),
        )

    fig: dict = {}
    with phase(fig, "synth"):
        assets = synth_rows(
            spark, n, "media_ref string, content binary",
            media_ref=lambda a: f"i{a}.jpg", content=payload,
        )
        total_bytes = assets.agg(
            F.count("*").alias("rows"), F.sum(F.length("content")).alias("b")
        ).first()
    assert total_bytes["rows"] == n
    planted_meta_bytes = int(total_bytes["b"]) - n * len(base)
    fig["meta_mb"] = round(planted_meta_bytes / 1e6, 1)

    with phase(fig, "parse"):
        ex = image_exif(assets)
        agg = ex.agg(
            F.count("*").alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
            F.sum(F.col("has_gps").cast("long")).alias("gps"),
            F.sum(F.coalesce(F.col("orientation"), F.lit(0))).alias("orient"),
            F.sum(
                (
                    F.col("has_gps")
                    & (F.signum("gps_lat") != F.when(
                        F.regexp_extract("media_ref", r"i(\d+)\.jpg", 1).cast("long") % 8 == 0,
                        F.lit(1.0),
                    ).otherwise(F.lit(-1.0)))
                ).cast("long")
            ).alias("bad_lat_sign"),
        ).first()
    exp_gps = sum(1 for a in range(n) if a % 4 == 0)
    exp_orient = sum(_orient(a) for a in range(n) if a % 2 == 0)
    assert agg["rows"] == n and agg["errs"] == 0
    assert agg["gps"] == exp_gps, (agg["gps"], exp_gps)
    assert int(agg["orient"]) == exp_orient
    assert agg["bad_lat_sign"] == 0

    with phase(fig, "strip"):
        st = strip_exif_pii(assets)
        sagg = st.agg(
            F.count("*").alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
            F.sum("n_bytes_removed").alias("removed"),
            F.sum(F.col("had_metadata").cast("long")).alias("had"),
            F.sum((F.length("content") != len(base)).cast("long")).alias("bad_len"),
        ).first()
    assets.unpersist()
    assert sagg["rows"] == n and sagg["errs"] == 0
    # every stripped payload collapses to the shared base body exactly
    assert sagg["bad_len"] == 0
    assert int(sagg["removed"]) == planted_meta_bytes
    assert sagg["had"] == (n + 1) // 2
    return fig


FAX_COMPS = ["g3", "g3_2d", "g4"]


def _fax_page(did: int) -> bytes:
    h, w = 120 + did % 32, 160 + did % 64
    npix = 500 + did % 1000
    flat = np.full(h * w, 255, np.uint8)
    flat[:npix] = 0  # exactly npix black pixels, row-major
    return tiff_encode(flat.reshape(h, w), compression=FAX_COMPS[did % 3])


def bench_fax(spark, n: int) -> dict:
    """CCITT fax ingestion: n bilevel fax pages synthesized executor-side as
    REAL G3-1D / G3-2D / G4 TIFFs (compression rotating by did%3), decoded
    through the Spark image_features stage (sniff -> tiff_decode ->
    fax_codec -> feature kernels) in ONE Arrow-batched pass, zero Exchange.

    Exactness is closed-form and row-wise: each page is (h,w) = (120+did%32,
    160+did%64) with exactly npix = 500+did%1000 black pixels filled
    row-major, so the decoded mean intensity must equal 255*(w*h-npix)/(w*h)
    BIT-EXACTLY (integer sum then one float64 division on both sides) and
    (width, height) must match the did-derived dims — any decode drift on
    any row fails the run."""
    fig: dict = {}
    with phase(fig, "synth"):
        assets = synth_rows(
            spark, n, "media_ref string, media_type string, content binary",
            media_ref=lambda d: f"fax{d}", media_type=lambda d: "image",
            content=_fax_page,
        ).withColumn(
            "meta",
            F.struct(
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.length("content").cast("long").alias("n_bytes"),
                F.lit("tiff").alias("codec"),
            ),
        )
        fig["bytes_in"] = int(assets.agg(F.sum(F.length("content"))).first()[0])

    with phase(fig, "decode"):
        feats = image_features(assets)
        did = F.regexp_extract("media_ref", r"fax(\d+)", 1).cast("long")
        w_exp = (did % 64 + 160).cast("int")
        h_exp = (did % 32 + 120).cast("int")
        npix = (did % 1000 + 500).cast("double")
        wh = (w_exp * h_exp).cast("double")
        mean_exp = F.lit(255.0) * (wh - npix) / wh
        agg = feats.agg(
            F.count("*").alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
            F.sum((F.col("width") != w_exp).cast("long")).alias("bad_w"),
            F.sum((F.col("height") != h_exp).cast("long")).alias("bad_h"),
            F.sum(
                (F.abs(F.col("mean_intensity") - mean_exp) > 1e-9).cast("long")
            ).alias("bad_mean"),
        ).first()
    assets.unpersist()

    assert agg["rows"] == n and agg["errs"] == 0, agg
    assert agg["bad_w"] == 0 and agg["bad_h"] == 0 and agg["bad_mean"] == 0, agg
    return fig


MAIL_PER_BOX = 8


def _message(did: int) -> bytes:
    body = f"mail body {did}"
    kind = did % 4
    if kind == 0:
        return synth_eml(f"S{did}", text=body)
    if kind == 1:
        return synth_eml(
            f"S{did}", text=body,
            html=f"<html><body><p>html twin {did}</p></body></html>",
        )
    if kind == 2:
        return synth_eml(
            f"S{did}", text=None,
            html=f"<html><body><div>{body}</div>"
                 f"<script>junk()</script></body></html>",
        )
    return synth_eml(f"S{did}", text=body, attachments=2)


def bench_mail(spark, n: int) -> dict:
    """Email-archive ingestion (sources/mail.mail_messages): n messages
    synthesized executor-side as REAL RFC 5322/MIME wire bytes, packed into
    MBOX archives of 8 messages each (the mailing-list-archive shape).
    Message did rotates the MIME layout: plain (did%4==0),
    multipart/alternative plain+html (1), html-only (2), plain + 2
    attachments (3); every body carries the sentinel "mail body {did}" and
    subject "S{did}".

    Exactness is closed-form and row-wise:
      * n message rows from n/8 archives, zero errors;
      * every row's subject equals S{did} for the did parsed back out of
        media_ref + archive arithmetic (zero mismatches);
      * every row's text contains its own sentinel (html-only rows prove the
        boilerplate-strip path end to end);
      * attachment accounting: sum(n_attachments) == 2 * |{did%4==3}|.

    Scale shape: ONE Arrow-batched mapInPandas stage, zero Exchange — a
    100 TB mail corpus partitions by archive file and scales
    embarrassingly."""
    n_boxes = (n + MAIL_PER_BOX - 1) // MAIL_PER_BOX

    def mbox(b: int) -> str:
        lo = b * MAIL_PER_BOX
        hi = min(lo + MAIL_PER_BOX, n)
        return synth_mbox([_message(d) for d in range(lo, hi)]).decode("latin-1")

    fig: dict = {}
    with phase(fig, "synth"):
        docs = synth_rows(
            spark, n_boxes, "doc_id string, payload string",
            doc_id=lambda b: f"box{b}", payload=mbox,
        )

    with phase(fig, "extract"):
        out = mail_messages(docs)
        box = F.regexp_extract("media_ref", r"box(\d+)#", 1).cast("long")
        mi = F.regexp_extract("media_ref", r"#m(\d+)", 1).cast("long")
        did = box * MAIL_PER_BOX + mi
        agg = out.agg(
            F.count("*").alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
            F.sum(
                (F.col("subject") != F.concat(F.lit("S"), did.cast("string")))
                .cast("long")
            ).alias("bad_subj"),
            F.sum(
                (
                    ~F.col("text").contains(
                        F.concat(F.lit("mail body "), did.cast("string"))
                    )
                ).cast("long")
            ).alias("bad_body"),
            F.sum("n_attachments").alias("atts"),
            F.sum(F.length("text")).alias("chars"),
        ).first()
    docs.unpersist()

    n_att_docs = sum(1 for d in range(n) if d % 4 == 3)
    assert agg["rows"] == n and agg["errs"] == 0, agg
    assert agg["bad_subj"] == 0 and agg["bad_body"] == 0, agg
    assert agg["atts"] == 2 * n_att_docs, (agg["atts"], 2 * n_att_docs)
    fig["chars_out"] = int(agg["chars"])
    return fig


PDF_CODECS = ["jpeg", "flate", "flate_png", "bilevel", "ccitt", "jbig2", "jpx",
              "jpx_lossy", "jbig2_halftone"]
PDF_ENC_VARIANTS = ["rc4-128", "aesv2", "aes-r5", "aesv3"]


def _pdf_payload(did: int) -> str:
    # deterministic per-doc sizes: img0 (w0,h0), img1 fixed-ish RGB
    w0, h0 = 16 + did % 17, 12 + did % 13
    img0 = ((np.arange(h0 * w0).reshape(h0, w0) * (did % 251 + 1)) % 256).astype(
        np.uint8
    )
    c0 = PDF_CODECS[did % 9]
    if c0 in ("bilevel", "ccitt", "jbig2"):
        img0 = (img0 > 127).astype(np.uint8) * 255
    w1, h1 = 8 + did % 5, 6 + did % 7
    img1 = ((np.arange(h1 * w1 * 3).reshape(h1, w1, 3) + did) % 256).astype(np.uint8)
    pdf = pdf_write_images(
        [{"x": 40, "y": 40, "text": f"scan {did}"}],
        [(img0, c0), (img1, "flate")],
    )
    if did % 4 == 0:
        pdf = encrypt_pdf(pdf, variant=PDF_ENC_VARIANTS[(did // 4) % 4])
    return pdf.decode("latin-1")


def bench_pdf_images(spark, n: int) -> dict:
    """Embedded-PDF-image extraction (pdf_image_assets): n single-page PDFs
    synthesized executor-side, each carrying 2 image XObjects rotating the
    codec mix — JPEG (DCTDecode passthrough), Flate RGB, Flate+PNG-predictor
    gray, 1-bit bilevel, CCITT G4 fax, JBIG2 generic region, lossless
    JPEG2000, lossy (9/7 quantized) JPEG2000, and halftone-coded JBIG2 —
    plus a text block, so the case exercises every decode path at once.
    Every 4th document is additionally ENCRYPTED with the standard security
    handler (rotating RC4-128, AES-128/V4, AES-256/R5 and AES-256/R6 — the
    last exercising the deliberately expensive Algorithm 2.B authentication
    per document), so the crypt layer's throughput cost is measured
    in-line, not in isolation.

    Exactness is closed-form and row-wise:
      * 2n image rows, zero errors (incl. every encrypted document);
      * each row's (width, height) equals the deterministic per-doc size
        derived from the did parsed back out of media_ref (zero mismatches);
      * format arithmetic holds (img0 rotates the 9 codecs by did%9 ->
        jpeg|png, img1 is always Flate RGB -> png)."""
    fig: dict = {}
    with phase(fig, "synth"):
        docs = synth_rows(
            spark, n, "doc_id string, payload string",
            doc_id=lambda d: f"d{d}", payload=_pdf_payload,
        )

    with phase(fig, "extract"):
        out = pdf_image_assets(docs)
        did = F.regexp_extract("doc_id", r"d(\d+)", 1).cast("long")
        img_i = F.regexp_extract("media_ref", r"#img(\d+)", 1).cast("int")
        w_exp = F.when(img_i == 0, (did % 17 + 16)).otherwise(did % 5 + 8).cast("int")
        h_exp = F.when(img_i == 0, (did % 13 + 12)).otherwise(did % 7 + 6).cast("int")
        fmt_exp = F.when((img_i == 0) & (did % 9 == 0), F.lit("jpeg")).otherwise(F.lit("png"))
        agg = out.agg(
            F.count("*").alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
            F.sum((F.col("width") != w_exp).cast("long")).alias("bad_w"),
            F.sum((F.col("height") != h_exp).cast("long")).alias("bad_h"),
            F.sum((F.col("format") != fmt_exp).cast("long")).alias("bad_fmt"),
            F.sum(F.length("content")).alias("bytes_out"),
        ).first()
    docs.unpersist()

    assert agg["rows"] == 2 * n and agg["errs"] == 0, agg
    assert agg["bad_w"] == 0 and agg["bad_h"] == 0 and agg["bad_fmt"] == 0, agg
    fig["bytes_out"] = int(agg["bytes_out"])
    return fig


VIDEO_FRAMES = 24
VIDEO_KEY_EVERY = 6


def _frame_sizes(aid: int) -> list[int]:
    # deterministic per-asset frame sizes (different per frame and asset)
    return [40 + ((aid * 7 + i * 13) % 50) for i in range(VIDEO_FRAMES)]


def _mp4(aid: int) -> bytes:
    return synth_mp4(
        video_samples=[bytes([(i + aid) % 256]) * s for i, s in enumerate(_frame_sizes(aid))],
        samples_per_chunk=5,
        keyframe_every=VIDEO_KEY_EVERY,
    )


def bench_video_index(spark, n: int) -> dict:
    """Decode-free MP4 frame sampling (operators/multimodal.video_frame_index
    over media_probe.mp4_sample_index): n synthetic ISO-BMFF assets are
    synthesized executor-side (real ftyp/mdat/moov trees with full
    stts/stsz/stsc/stco/stss tables via synth_mp4), then the sampler expands
    the sample tables and slices keyframe payloads out of mdat in ONE Arrow
    stage — no shuffle, no codec.

    Exactness is closed-form (every quantity below is decided by the synth
    parameters, so the assertions are exact, not statistical):
    - full index: n × FRAMES rows, zero errors;
    - keyframe sampling: n × ceil(FRAMES / KEY_EVERY) rows, all is_keyframe;
    - byte accounting: sum(n_bytes) == n × Σ planted sizes, and every sliced
      payload length equals its index row's n_bytes."""
    fig: dict = {}
    with phase(fig, "synth"):
        assets = synth_rows(
            spark, n, "media_ref string, content binary",
            media_ref=lambda a: f"v{a}.mp4", content=_mp4,
        )
    total_payload = sum(sum(_frame_sizes(a)) for a in range(n))

    # full index with payload slicing
    with phase(fig, "full_index"):
        full = video_frame_index(assets, with_payload=True)
        agg = full.agg(
            F.count("*").alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errs"),
            F.sum("n_bytes").alias("bytes"),
            F.sum((F.length("payload") != F.col("n_bytes")).cast("long")).alias("bad_payload"),
            F.sum(F.col("is_keyframe").cast("long")).alias("keys"),
        ).first()
    assert agg["rows"] == n * VIDEO_FRAMES, agg["rows"]
    assert agg["errs"] == 0 and agg["bad_payload"] == 0
    assert int(agg["bytes"]) == total_payload, (agg["bytes"], total_payload)
    assert agg["keys"] == n * -(-VIDEO_FRAMES // VIDEO_KEY_EVERY)

    # keyframe-only sampling (the crawl-filter shape: ~1/KEY_EVERY of rows)
    with phase(fig, "keyframes"):
        kf = video_frame_index(assets, keyframes_only=True, with_payload=False)
        kagg = kf.agg(
            F.count("*").alias("rows"),
            F.sum((~F.col("is_keyframe")).cast("long")).alias("nonkey"),
        ).first()
    assets.unpersist()
    assert kagg["rows"] == n * -(-VIDEO_FRAMES // VIDEO_KEY_EVERY) and kagg["nonkey"] == 0
    return fig


def _runs(binary):
    h, w = binary.shape
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = binary
    d = np.diff(padded, axis=1)
    starts = np.argwhere(d == 1)
    ends = np.argwhere(d == -1)[:, 1]
    return starts[:, 0], starts[:, 1], ends - 1


def _nested_loop_pairs(rows, s, t):
    """The former nested per-row-pair merge strategy, isolated for
    comparison."""
    n = len(rows)
    row_of = {}
    i = 0
    while i < n:
        j = i
        while j < n and rows[j] == rows[i]:
            j += 1
        row_of[int(rows[i])] = (i, j)
        i = j
    pairs = []
    for r, (lo, hi) in row_of.items():
        prev = row_of.get(r - 1)
        if prev is None:
            continue
        plo, phi = prev
        for a in range(lo, hi):
            for b in range(plo, phi):
                if s[a] <= t[b] + 1 and t[a] >= s[b] - 1:
                    pairs.append((a, b))
    return pairs


def bench_cc(spark, n: int) -> dict:
    """Connected-component run merging on an n×n detection map (the
    reference's real map is 736×736, local_ocr_engine.py:38-40): the
    vectorized searchsorted interval matcher vs the former nested
    per-row-pair Python loop, on a noisy and a sparse-text map. Driver-only
    numpy; the session is unused. The matcher's pairs must equal the loop's
    exactly."""
    rng = np.random.default_rng(42)
    fig: dict = {}
    for name, density in [("noisy", 0.5), ("sparse_text", 0.12)]:
        binary = rng.random((n, n)) < density
        rows, s, t = _runs(binary)

        t0 = time.perf_counter()
        old_pairs = _nested_loop_pairs(rows, s, t)
        t_old = time.perf_counter() - t0

        t0 = time.perf_counter()
        a_idx, b_idx = _overlap_pairs(rows, s, t)
        t_new = time.perf_counter() - t0

        assert sorted(old_pairs) == sorted(zip(a_idx.tolist(), b_idx.tolist()))

        t0 = time.perf_counter()
        comps = connected_components(binary)
        t_full = time.perf_counter() - t0

        fig[name] = dict(
            runs=len(rows),
            runs_per_row=round(len(rows) / n, 1),
            pairs=len(old_pairs),
            merge_old_ms=round(t_old * 1000, 1),
            merge_new_ms=round(t_new * 1000, 1),
            full_cc_ms=round(t_full * 1000, 1),
            n_components=len(comps),
        )
    return fig
