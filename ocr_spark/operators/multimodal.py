"""Multimodal (image/audio/video) column handling (task directive).

Media are opaque `binary` columns with typed metadata. The Spark-side
plumbing — schema, Arrow batch shape, partitioning, UDF signatures — is real
and tested. REAL pure-stdlib/numpy codecs: PNG (cloud_engine), baseline
JPEG, BMP, uncompressed TIFF, GIF/LZW (image_codecs), WebP-lossless
(webp_codec), WAV/G.711/ADPCM audio (audio_codecs), FLAC (flac_codec).
Perceptual audio (mp3/ogg) and video (mp4) decode raises
NotImplementedError pending a media library, but their CONTAINERS are
really parsed by `media_probe` (duration/bitrate/codec/track metadata);
the deterministic synthetic decoder serves the fixture `media://` refs.

Operators:
  media_assets_df   — (media_ref, media_type, content, meta) from the spans
                      table, payloads resolved executor-side.
  image_features    — mapInPandas: decode → grayscale stats + band count
                      (reuses the real numpy kernels) as typed columns.
  frame_sample      — real GIF frame decode + every-n sampling, one row per
                      sampled frame with per-frame features.
  video_frame_index — MP4 frame sampling WITHOUT decode: stbl sample-table
                      expansion (media_probe.mp4_sample_index) → per-frame
                      time/byte-range/keyframe rows, optional raw coded
                      sample sliced from mdat.
  audio_segments    — energy-VAD segmentation through the real WAV/FLAC
                      codecs: per-segment boundary/RMS/peak/clipping rows
                      for speech-corpus curation.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("codec", T.StringType(), True),
    ]
)

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META, True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_intensity", T.DoubleType(), True),
        T.StructField("std_intensity", T.DoubleType(), True),
        T.StructField("n_bands", T.IntegerType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def detect_codec(head: bytes) -> str | None:
    """Image codec from the payload's magic bytes; None for unknown (the
    fixture corpus' raw synthetic format has no signature)."""
    h = head or b""
    if h[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if h[:2] == b"\xff\xd8":
        return "jpeg"
    if h[:2] == b"BM":
        return "bmp"
    if h[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if h[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if h[:4] == b"RIFF" and h[8:12] == b"WEBP":
        return "webp"
    if h[:8] == b"\x97JB2\r\n\x1a\n":
        return "jbig2"
    if h[:12] == b"\x00\x00\x00\x0cjP  \r\n\x87\n" or h[:2] == b"\xff\x4f":
        return "jp2"
    return None


def decode_image(content: bytes, codec: str = "auto") -> np.ndarray:
    """Decode a binary payload to an ndarray. PNG, baseline JPEG, BMP,
    uncompressed TIFF and GIF are REAL pure-stdlib/numpy codecs
    (cloud_engine.png_decode, image_codecs.*); 'synthetic' is the
    fixture-corpus raw-bytes format. codec='auto' sniffs magic bytes and
    falls back to synthetic."""
    if codec == "auto":
        # only 'auto' sniffs: an EXPLICIT codec is honored verbatim — raw
        # synthetic payloads can start with 'BM'/FFD8 by chance (~1/32k),
        # and overriding the caller would misroute them to a real decoder
        codec = detect_codec((content or b"")[:12]) or "synthetic"
    if codec == "png":
        from ocr_spark.operators.cloud_engine import png_decode

        return png_decode(content)
    if codec in ("jpeg", "jpg"):
        from ocr_spark.operators.image_codecs import jpeg_decode

        return jpeg_decode(content)
    if codec == "bmp":
        from ocr_spark.operators.image_codecs import bmp_decode

        return bmp_decode(content)
    if codec == "tiff":
        from ocr_spark.operators.image_codecs import tiff_decode

        return tiff_decode(content)
    if codec == "gif":
        from ocr_spark.operators.image_codecs import gif_decode_frames

        return gif_decode_frames(content)[0]
    if codec == "webp":
        from ocr_spark.operators.webp_codec import webp_decode

        return webp_decode(content)
    if codec == "jbig2":
        from ocr_spark.operators.jbig2_codec import jbig2_file_decode

        # coding 1 = black -> gray (white page background = 255)
        return ((1 - jbig2_file_decode(content)) * 255).astype(np.uint8)
    if codec == "jp2":
        from ocr_spark.operators.jp2_codec import jp2_decode

        return jp2_decode(content)
    if codec == "synthetic":
        from ocr_spark.operators.media_kernels import bytes_to_image

        return bytes_to_image(content)
    raise NotImplementedError(
        f"codec {codec!r}: real decode requires an image library not present "
        "in this container; wire Pillow/libvips here in production"
    )


def decode_audio(content: bytes, codec: str = "wav") -> tuple[np.ndarray, int]:
    """Decode an audio payload. WAV (`audio_codecs.wav_decode` — RIFF with
    PCM 8/16-bit, G.711 mu-law/A-law, or IMA ADPCM format tags) and FLAC
    (`flac_codec.flac_decode` — full RFC 9639 decoder: Rice residuals,
    fixed+LPC predictors, stereo decorrelation, CRC+MD5 verified) are REAL
    codecs: returns (samples (n_frames, n_channels) int, sample_rate).
    Perceptual codecs (mp3/ogg/aac) remain stubbed pending an audio
    library — `media_probe.audio_probe` still parses their container
    metadata (duration/bitrate/channels) without decoding."""
    head = (content or b"")[:4]
    # magic bytes are authoritative: a fLaC payload routed with the default
    # codec='wav' still reaches the FLAC decoder
    if codec == "flac" or head == b"fLaC":
        from ocr_spark.operators.flac_codec import flac_decode, flac_parse_streaminfo

        samples, sr = flac_decode(content)
        bps = flac_parse_streaminfo(content)["bits_per_sample"]
        if bps > 16:  # downshift to the pipeline's int16 sample contract
            samples = samples >> (bps - 16)
        elif bps < 16:
            samples = samples << (16 - bps)
        return samples.astype(np.int16), sr
    if codec == "wav" or head == b"RIFF":
        from ocr_spark.operators.audio_codecs import wav_decode

        return wav_decode(content)
    raise NotImplementedError(
        f"audio codec {codec!r}: perceptual-codec decode requires an audio "
        "library not present in this container (metadata via audio_probe)"
    )


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("duration_sec", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("zero_cross_rate", T.DoubleType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def audio_features(assets: DataFrame) -> DataFrame:
    """Decode + feature-extract per audio asset (real WAV codec): duration,
    RMS amplitude (normalized to [-1,1] full scale), zero-crossing rate of
    the first channel. Per-asset error envelope, same contract as
    image_features."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in AUDIO_FEATURE_SCHEMA.fields}
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                row = dict(
                    media_ref=ref, sample_rate=None, n_channels=None,
                    duration_sec=None, rms=None, zero_cross_rate=None, error=None,
                )
                try:
                    samples, sr = decode_audio(content)
                    x = samples[:, 0].astype(np.float64) / 32768.0
                    row.update(
                        sample_rate=int(sr),
                        n_channels=int(samples.shape[1]),
                        duration_sec=float(len(samples) / sr) if sr else None,
                        rms=float(np.sqrt(np.mean(x * x))) if len(x) else 0.0,
                        zero_cross_rate=(
                            float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
                            if len(x) > 1
                            else 0.0
                        ),
                    )
                except Exception as e:
                    row["error"] = f"{type(e).__name__}: {e}"
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return assets.mapInPandas(gen, schema=AUDIO_FEATURE_SCHEMA)


AUDIO_SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("seg_idx", T.IntegerType(), True),
        T.StructField("n_segments", T.IntegerType(), True),
        T.StructField("start_sec", T.DoubleType(), True),
        T.StructField("end_sec", T.DoubleType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.DoubleType(), True),
        T.StructField("clip_ratio", T.DoubleType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def segment_audio_array(
    x: np.ndarray,
    sr: int,
    frame_ms: int = 25,
    threshold_db: float = -35.0,
    min_len_ms: int = 200,
    min_gap_ms: int = 150,
    stats_x: np.ndarray | None = None,
) -> list[dict]:
    """Energy VAD over a mono float signal in [-1, 1]: frame RMS against a
    threshold `threshold_db` below the asset's peak frame (with a -60 dBFS
    absolute floor so silence-only assets yield no segments), consecutive
    active frames merged, gaps <= min_gap_ms bridged, segments < min_len_ms
    dropped. Pure numpy (reshape + run-length over a boolean), deterministic.
    Returns [{start_sec, end_sec, rms, peak, clip_ratio}, ...].

    `stats_x`: optional (n, ch) per-channel array the peak/clip stats are
    taken over (clipping lives per channel; a stereo downmix hides it) —
    VAD and rms always run on `x`, the mono mix."""
    spf = max(1, int(sr * frame_ms / 1000))
    n_frames = len(x) // spf
    if n_frames == 0:
        return []
    fr = x[: n_frames * spf].reshape(n_frames, spf)
    rms = np.sqrt(np.mean(fr * fr, axis=1))
    peak_rms = float(rms.max())
    floor = 10.0 ** (-60.0 / 20.0)
    thresh = max(peak_rms * 10.0 ** (threshold_db / 20.0), floor)
    active = rms > thresh
    if not active.any():
        return []
    # run-length: segment starts/ends from the diff of the padded boolean
    edges = np.diff(np.concatenate(([0], active.view(np.int8), [0])))
    starts, ends = np.flatnonzero(edges == 1), np.flatnonzero(edges == -1)
    # bridge short gaps, then drop short segments (in frames)
    max_gap = min_gap_ms // frame_ms
    merged = [[int(starts[0]), int(ends[0])]]
    for s, e in zip(starts[1:], ends[1:]):
        if s - merged[-1][1] <= max_gap:
            merged[-1][1] = int(e)
        else:
            merged.append([int(s), int(e)])
    min_frames = max(1, min_len_ms // frame_ms)
    out = []
    for s, e in merged:
        if e - s < min_frames:
            continue
        seg = x[s * spf : e * spf]
        stat = seg if stats_x is None else stats_x[s * spf : e * spf]
        out.append(
            {
                "start_sec": s * spf / sr,
                "end_sec": e * spf / sr,
                "rms": float(np.sqrt(np.mean(seg * seg))),
                "peak": float(np.abs(stat).max()),
                "clip_ratio": float(np.mean(np.abs(stat) >= 32767.0 / 32768.0)),
            }
        )
    return out


def audio_segments(
    assets: DataFrame,
    frame_ms: int = 25,
    threshold_db: float = -35.0,
    min_len_ms: int = 200,
    min_gap_ms: int = 150,
) -> DataFrame:
    """Voice/sound-activity segmentation for speech-corpus curation: decode
    (real WAV/G.711/ADPCM/FLAC codecs), energy-VAD the mono mix, emit one
    row per segment with per-segment RMS/peak/clipping stats — the shape a
    100-TB audio crawl needs: segment boundaries and keep/drop stats come
    out of ONE Arrow stage, and only kept segment ranges ever reach an
    expensive ASR/embedding stage. Per-asset error envelope; an asset with
    zero segments (all-silence) keeps ONE accounting row (seg_idx null,
    n_segments 0) — the video_frame_index convention."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in AUDIO_SEGMENT_SCHEMA.fields]
        for pdf in batches:
            rows = []

            def emit(ref, **kw):
                row = dict.fromkeys(cols)
                row["media_ref"] = ref
                row.update(kw)
                rows.append(row)

            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                try:
                    samples, sr = decode_audio(content)
                    if not sr or not len(samples):
                        emit(ref, n_segments=0)
                        continue
                    chans = samples.astype(np.float64) / 32768.0
                    segs = segment_audio_array(
                        chans.mean(axis=1), sr, frame_ms, threshold_db,
                        min_len_ms, min_gap_ms, stats_x=chans,
                    )
                except Exception as e:
                    emit(ref, error=f"{type(e).__name__}: {e}")
                    continue
                if not segs:
                    emit(ref, n_segments=0)
                    continue
                for i, s in enumerate(segs):
                    emit(ref, seg_idx=i, n_segments=len(segs), **s)
            yield pd.DataFrame(rows, columns=cols)

    return assets.mapInPandas(gen, schema=AUDIO_SEGMENT_SCHEMA)


def media_assets_df(docs: DataFrame) -> DataFrame:
    """Distinct media assets referenced by a spans table, payload resolved
    inside an Arrow-batched stage (never on the driver)."""
    refs = (
        docs.select(F.explode("spans").alias("s"))
        .where(F.col("s.media_ref").isNotNull())
        .select(F.col("s.media_ref").alias("media_ref"), F.col("s.kind").alias("media_type"))
        .distinct()
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.sources.media import resolve_batch

        for pdf in batches:
            payloads = resolve_batch(list(pdf["media_ref"]))
            metas = [
                {"width": 32, "height": 32, "n_bytes": len(p or b""), "codec": "synthetic"}
                for p in payloads
            ]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_type": pdf["media_type"],
                    "content": payloads,
                    "meta": metas,
                }
            )

    return refs.mapInPandas(gen, schema=ASSET_SCHEMA)


def image_features(assets: DataFrame) -> DataFrame:
    """Decode + feature-extract per asset (vectorized batch; per-asset error
    envelope instead of batch death)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.operators.media_kernels import detect_bands, to_grayscale

        for pdf in batches:
            out = {k.name: [] for k in FEATURE_SCHEMA.fields}
            for ref, content, meta in zip(pdf["media_ref"], pdf["content"], pdf["meta"]):
                row = dict(
                    media_ref=ref, width=None, height=None, mean_intensity=None,
                    std_intensity=None, n_bands=None, error=None,
                )
                try:
                    img = decode_image(content, (meta or {}).get("codec", "synthetic"))
                    gray = to_grayscale(img)
                    row.update(
                        width=int(gray.shape[1]),
                        height=int(gray.shape[0]),
                        mean_intensity=float(gray.mean()),
                        std_intensity=float(gray.std()),
                        n_bands=len(detect_bands(gray)),
                    )
                except Exception as e:
                    row["error"] = f"{type(e).__name__}: {e}"
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return assets.mapInPandas(gen, schema=FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def resize_images(assets: DataFrame, out_h: int = 8, out_w: int = 8) -> DataFrame:
    """Resize every image asset to (out_h, out_w) by area (block-mean)
    interpolation — the same vectorized kernel the recognition chain uses
    (media_kernels.block_mean_resize) — emitting uint8 payloads. Per-asset
    error envelope; decode stubbed to the synthetic codec (task directive)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.operators.media_kernels import block_mean_resize, to_grayscale

        for pdf in batches:
            out = {k.name: [] for k in RESIZED_SCHEMA.fields}
            for ref, content, meta in zip(pdf["media_ref"], pdf["content"], pdf["meta"]):
                row = dict(media_ref=ref, width=None, height=None, content=None, error=None)
                try:
                    img = decode_image(content, (meta or {}).get("codec", "synthetic"))
                    small = block_mean_resize(to_grayscale(img), out_h, out_w)
                    row.update(
                        width=out_w,
                        height=out_h,
                        content=np.clip(np.rint(small), 0, 255).astype(np.uint8).tobytes(),
                    )
                except Exception as e:
                    row["error"] = f"{type(e).__name__}: {e}"
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return assets.mapInPandas(gen, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_intensity", T.DoubleType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def frame_sample(assets: DataFrame, every_n: int = 2) -> DataFrame:
    """Multi-frame sampling through REAL decoders: GIF frame sequences
    and multi-page TIFFs (the scanned-document/fax-archive container —
    each IFD page is a "frame"), sniffed by magic bytes; mp4/webm need a
    real codec library and keep the same row contract. Decodes inside the
    Arrow stage, keeps every `every_n`-th frame (always including frame
    0), emits one row per sampled frame with per-frame features.
    Per-asset error envelope, batch never dies."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.operators.image_codecs import (
            gif_decode_frames,
            tiff_decode_pages,
        )
        from ocr_spark.operators.media_kernels import to_grayscale

        for pdf in batches:
            out = {k.name: [] for k in FRAME_SCHEMA.fields}

            def emit(ref, **kw):
                row = dict(
                    media_ref=ref, frame_idx=None, n_frames=None, width=None,
                    height=None, mean_intensity=None, error=None,
                )
                row.update(kw)
                for k, v in row.items():
                    out[k].append(v)

            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                try:
                    raw = bytes(content)
                    if raw[:4] in (b"II*\x00", b"MM\x00*"):
                        frames = tiff_decode_pages(raw)
                    else:
                        frames = gif_decode_frames(raw)
                except Exception as e:
                    emit(ref, error=f"{type(e).__name__}: {e}")
                    continue
                for i in range(0, len(frames), every_n):
                    g = to_grayscale(frames[i])
                    emit(
                        ref,
                        frame_idx=i,
                        n_frames=len(frames),
                        width=int(g.shape[1]),
                        height=int(g.shape[0]),
                        mean_intensity=float(g.mean()),
                    )
            yield pd.DataFrame(out)

    return assets.mapInPandas(gen, schema=FRAME_SCHEMA)


FRAME_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("time_sec", T.DoubleType(), True),
        T.StructField("byte_offset", T.LongType(), True),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("is_keyframe", T.BooleanType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def video_frame_index(
    assets: DataFrame,
    every_n: int = 1,
    keyframes_only: bool = False,
    max_frames: int | None = None,
    with_payload: bool = False,
    handler: str = "vide",
) -> DataFrame:
    """Frame sampling for MP4/ISO-BMFF WITHOUT decoding — the shape that
    scales: `media_probe.mp4_sample_index` expands the `stbl` sample tables
    into per-frame (time, byte_offset, size, keyframe) rows, the sampler
    picks keyframes and/or every `every_n`-th selected frame (frame 0
    always included), and `with_payload=True` slices the raw coded sample
    straight out of `mdat` for a downstream decoder to consume. One
    mapInPandas stage, per-asset error envelope; a sample range that runs
    past the payload (truncated crawl artifact) keeps its index row with a
    per-ROW error instead of killing the asset, and an asset whose track
    indexes to zero selected frames still emits ONE accounting row
    (frame_idx null, n_frames set) so per-asset joins never lose it.
    Decode of the coded frames
    themselves stays stubbed pending a codec library (same boundary as
    decode_image's non-stdlib formats; ref: the reference loads any
    PIL-supported media, ocr_workflow_orchestrator.py:153-178)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.operators.media_probe import mp4_sample_index

        cols = [f.name for f in FRAME_INDEX_SCHEMA.fields]
        for pdf in batches:
            rows = []

            def emit(ref, **kw):
                row = dict.fromkeys(cols)
                row["media_ref"] = ref
                row.update(kw)
                rows.append(row)

            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                data = bytes(content) if content is not None else b""
                try:
                    idx = mp4_sample_index(data, handler=handler)
                except Exception as e:
                    emit(ref, error=f"{type(e).__name__}: {e}")
                    continue
                sel = [
                    i for i in range(idx["n"])
                    if not keyframes_only or idx["keyframe"][i]
                ]
                sel = sel[:: max(1, every_n)]
                if max_frames is not None:
                    sel = sel[:max_frames]
                if not sel:
                    # per-asset accounting row: "had no frames to sample"
                    # is distinguishable from "asset was dropped"
                    emit(ref, n_frames=idx["n"], codec=idx["codec"])
                    continue
                for i in sel:
                    off, sz = int(idx["offset"][i]), int(idx["size"][i])
                    payload = err = None
                    # corrupt tables produce negative offsets (co64 int64
                    # wrap) or int32-overflowing sizes — both must stay
                    # row-level errors, never a silent wrong slice or a
                    # dead Arrow batch (n_bytes is an int32 column)
                    if off < 0 or sz < 0 or sz > 0x7FFFFFFF:
                        err = f"sample {i}: corrupt range (offset={off}, size={sz})"
                        off = sz = None
                    elif off + sz > len(data):
                        err = (
                            f"sample {i} range [{off}, {off + sz}) beyond "
                            f"payload of {len(data)} bytes (truncated mdat)"
                        )
                    elif with_payload:
                        payload = data[off : off + sz]
                    emit(
                        ref,
                        frame_idx=i,
                        n_frames=idx["n"],
                        time_sec=float(idx["time_sec"][i]),
                        byte_offset=off,
                        n_bytes=sz,
                        is_keyframe=bool(idx["keyframe"][i]),
                        codec=idx["codec"],
                        payload=payload,
                        error=err,
                    )
            yield pd.DataFrame(rows, columns=cols)

    return assets.mapInPandas(gen, schema=FRAME_INDEX_SCHEMA)


def video_assets_df(refs: DataFrame) -> DataFrame:
    """(media_ref) → ASSET_SCHEMA rows with synthetic animated-GIF payloads
    resolved executor-side (real GIF89a/LZW bytes through the real codec
    downstream)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.sources.media import synth_gif_bytes

        for pdf in batches:
            payloads = [synth_gif_bytes(r) for r in pdf["media_ref"]]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_type": ["video"] * len(pdf),
                    "content": payloads,
                    "meta": [
                        {"width": None, "height": None, "n_bytes": len(p), "codec": "gif"}
                        for p in payloads
                    ],
                }
            )

    return refs.select("media_ref").distinct().mapInPandas(gen, schema=ASSET_SCHEMA)


def audio_assets_df(refs: DataFrame, encoding: str = "pcm") -> DataFrame:
    """(media_ref) → ASSET_SCHEMA rows with synthetic WAV payloads resolved
    executor-side (real RIFF bytes through the real codec downstream).
    encoding='pcm' gives 16-bit PCM; 'compressed' gives seed-chosen G.711
    mu-law / A-law / IMA ADPCM containers (the non-PCM decode paths)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.sources.media import (
            synth_audio_bytes,
            synth_audio_compressed_bytes,
        )

        synth = (
            synth_audio_compressed_bytes if encoding == "compressed" else synth_audio_bytes
        )
        for pdf in batches:
            payloads = [synth(r) for r in pdf["media_ref"]]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_type": ["audio"] * len(pdf),
                    "content": payloads,
                    "meta": [
                        {"width": None, "height": None, "n_bytes": len(p), "codec": "wav"}
                        for p in payloads
                    ],
                }
            )

    return refs.select("media_ref").distinct().mapInPandas(gen, schema=ASSET_SCHEMA)


# ---------------------------------------------------------------------------
# image perceptual hash (pHash) — near-dup dedup for IMAGE corpora
# ---------------------------------------------------------------------------

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("phash", T.LongType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

_DCT_CACHE: dict[int, "np.ndarray"] = {}


def _dct_mat(n: int) -> "np.ndarray":
    """Orthonormal DCT-II basis matrix (float64, cached): D = A @ X @ A.T is
    the 2-D transform. Pure numpy so executor batches and the driver-side
    oracle golden are bit-identical."""
    if n not in _DCT_CACHE:
        k = np.arange(n)[:, None].astype(np.float64)
        m = np.arange(n)[None, :].astype(np.float64)
        a = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * m + 1) * k / (2 * n))
        a[0] *= 1.0 / np.sqrt(2.0)
        _DCT_CACHE[n] = a
    return _DCT_CACHE[n]


def phash64(gray: "np.ndarray") -> int:
    """64-bit perceptual hash (classic pHash construction): block-mean
    resize to 32x32, 2-D DCT-II, keep the top-left 8x8 low-frequency block,
    bit i = coefficient > median of the 63 non-DC coefficients (DC bit
    forced 0 — it only encodes global brightness). Near-duplicate images
    (re-encodes, slight crops/noise) land within a small hamming distance;
    pair generation then reuses the pigeonhole chunk buckets."""
    from ocr_spark.operators.media_kernels import block_mean_resize

    g = block_mean_resize(np.asarray(gray, dtype=np.float64), 32, 32)
    a = _dct_mat(32)
    d = (a @ g @ a.T)[:8, :8].ravel()
    med = float(np.median(d[1:]))
    bits = np.uint64(0)
    for i in np.nonzero(d > med)[0]:
        if i == 0:
            continue
        bits |= np.uint64(1) << np.uint64(i)
    # two's-complement fold in pure Python: numpy's out-of-range
    # uint64->int64 conversion wraps on numpy 1.x but raises OverflowError
    # on numpy >= 2.0 whenever bit 63 is set
    b = int(bits)
    return b - (1 << 64) if b >= (1 << 63) else b


def image_phash(assets: DataFrame) -> DataFrame:
    """(media_ref, content, meta) -> (media_ref, phash, error): decode +
    perceptual-hash per asset, vectorized batches, per-asset error
    envelopes. Feed the output straight into
    dedup.simhash_near_pairs(sig=..., bits=64) for near-dup pairs."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.operators.media_kernels import to_grayscale

        for pdf in batches:
            refs, hashes, errs = [], [], []
            for ref, content, meta in zip(pdf["media_ref"], pdf["content"], pdf["meta"]):
                refs.append(ref)
                try:
                    img = decode_image(content, (meta or {}).get("codec", "auto"))
                    hashes.append(phash64(to_grayscale(img)))
                    errs.append(None)
                except Exception as e:
                    hashes.append(None)
                    errs.append(f"{type(e).__name__}: {e}")
            yield pd.DataFrame({"media_ref": refs, "phash": hashes, "error": errs})

    return assets.mapInPandas(gen, schema=PHASH_SCHEMA)


def similar_image_assets_df(refs: DataFrame, group: int = 4) -> DataFrame:
    """(media_ref) -> ASSET_SCHEMA rows from the deterministic near-duplicate
    image corpus (sources.media.synth_similar_image_bytes), resolved
    executor-side."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ocr_spark.sources.media import synth_similar_image_bytes

        for pdf in batches:
            payloads = [synth_similar_image_bytes(r, group) for r in pdf["media_ref"]]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "media_type": ["image"] * len(pdf),
                    "content": payloads,
                    "meta": [
                        {"width": 32, "height": 32, "n_bytes": len(p), "codec": "synthetic"}
                        for p in payloads
                    ],
                }
            )

    return refs.select("media_ref").distinct().mapInPandas(gen, schema=ASSET_SCHEMA)


# ---------------------------------------------------------------------------
# PDF embedded-image assets — the scanned-document OCR feed
# ---------------------------------------------------------------------------

PDF_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def pdf_image_assets(
    docs: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(id_col, payload_col: PDF bytes-or-latin1-string) -> one row per
    embedded /Subtype /Image XObject (pdf_layout.pdf_images): media_ref =
    '<doc_id>#img<i>', content = self-describing JPEG (DCTDecode
    passthrough) or PNG (re-encoded Flate/raw samples), per-image AND
    per-doc error envelopes (a doc whose PDF fails structurally yields one
    error row; a bad image inside a good PDF only poisons itself). ONE
    Arrow-batched mapInPandas stage, zero Exchange — the output composes
    with image_features / resize_images / image_phash and the
    extract_documents media sidecar: crawl PDF -> scan -> OCR kernels.

    Scale: image bodies never leave the executor that parsed them; the
    stage is embarrassingly parallel over docs, so the 100-TB shape is the
    input partitioning (size maxPartitionBytes so a partition's PDFs +
    their images fit executor memory; media-heavy skew is the north rule's
    salted-repartition case)."""
    from ocr_spark.operators.pdf_layout import pdf_images

    cols = PDF_IMAGE_SCHEMA.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    data = (
                        payload.encode("latin-1", "replace")
                        if isinstance(payload, str)
                        else bytes(payload)
                    )
                    if not data.lstrip().startswith(b"%PDF-"):
                        raise ValueError("payload is not a PDF")
                    for img in pdf_images(data):
                        rows.append(
                            {
                                "doc_id": did,
                                "media_ref": f"{did}#img{img['index']}",
                                "format": img["format"],
                                "width": img["width"],
                                "height": img["height"],
                                "content": img["content"],
                                "error": img["error"],
                            }
                        )
                except Exception as e:  # per-doc envelope
                    rows.append(
                        {
                            "doc_id": did,
                            "media_ref": f"{did}#img",
                            "format": None,
                            "width": None,
                            "height": None,
                            "content": None,
                            "error": f"{type(e).__name__}: {e}",
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return docs.select(id_col, payload_col).mapInPandas(
        gen, schema=PDF_IMAGE_SCHEMA
    )


# ---------------------------------------------------------------------------
# audio standardization — the speech-corpus ingestion front door
# ---------------------------------------------------------------------------

AUDIO_STD_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("src_rate", T.IntegerType(), True),
        T.StructField("src_channels", T.IntegerType(), True),
        T.StructField("peak_src_dbfs", T.DoubleType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def audio_standardize(
    assets: DataFrame,
    target_rate: int = 16000,
    peak_dbfs: float = -1.0,
    normalize: bool = True,
) -> DataFrame:
    """Standardize every audio asset to the shape a speech-training corpus
    feeds its acoustic model: decode (real WAV/G.711/ADPCM/FLAC codecs) ->
    mono downmix (channel mean) -> Fourier resample to `target_rate`
    (audio_codecs.resample_fft: pure tones survive exactly, energy above
    the new Nyquist is brick-walled) -> optional peak normalization to
    `peak_dbfs` -> 16-bit PCM WAV payload. Silence skips normalization
    (no zero-division blowup); already-at-rate mono input round-trips.

    ONE Arrow-batched mapInPandas stage, per-asset error envelopes (a
    perceptual-codec payload degrades to its named NotImplementedError
    row). Audio bodies never leave the executor that decoded them — the
    100-TB shape is input partitioning, same as the image family."""
    import math

    from ocr_spark.operators.audio_codecs import resample_fft, wav_encode

    cols = AUDIO_STD_SCHEMA.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                row: dict = {k: None for k in cols}
                row["media_ref"] = ref
                try:
                    samples, rate = decode_audio(
                        bytes(content) if content is not None else b""
                    )
                    if samples.ndim == 1:
                        samples = samples[:, None]
                    row["src_rate"] = int(rate)
                    row["src_channels"] = int(samples.shape[1])
                    mono = samples.astype(np.float64).mean(axis=1) / 32768.0
                    peak = float(np.abs(mono).max()) if mono.size else 0.0
                    row["peak_src_dbfs"] = (
                        20.0 * math.log10(peak) if peak > 0 else None
                    )
                    out = resample_fft(mono, rate, target_rate)
                    opk = float(np.abs(out).max()) if out.size else 0.0
                    if normalize and opk > 0:
                        out = out * (10.0 ** (peak_dbfs / 20.0) / opk)
                    pcm = np.clip(np.round(out * 32767.0), -32768, 32767).astype(
                        np.int16
                    )
                    row["sample_rate"] = int(target_rate)
                    row["n_samples"] = int(pcm.shape[0])
                    row["duration_ms"] = int(pcm.shape[0] * 1000 // target_rate)
                    row["content"] = wav_encode(pcm, target_rate)
                except Exception as e:
                    row["error"] = f"{type(e).__name__}: {e}"
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return assets.select("media_ref", "content").mapInPandas(
        gen, schema=AUDIO_STD_SCHEMA
    )


LOGMEL_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("n_mels", T.IntegerType(), True),
        T.StructField("mean_db", T.DoubleType(), True),
        T.StructField("max_db", T.DoubleType(), True),
        T.StructField("feats", T.ArrayType(T.FloatType()), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def audio_logmel(
    assets: DataFrame,
    n_mels: int = 80,
    frame_ms: int = 25,
    hop_ms: int = 10,
    floor_db: float = -80.0,
) -> DataFrame:
    """Log-mel spectrogram features per audio asset — the acoustic-model
    front end (25 ms window / 10 ms hop / 80 HTK mel bins, dB re full
    scale). `feats` is the row-major (n_frames * n_mels) float array the
    training loader reshapes; mean/max dB are the cheap QA columns. ONE
    Arrow stage, per-asset envelopes; run it after audio_standardize so
    every asset shares one rate."""
    from ocr_spark.operators.audio_codecs import logmel_frames

    cols = LOGMEL_SCHEMA.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, content in zip(pdf["media_ref"], pdf["content"]):
                row: dict = {k: None for k in cols}
                row["media_ref"] = ref
                try:
                    samples, rate = decode_audio(
                        bytes(content) if content is not None else b""
                    )
                    if samples.ndim == 1:
                        samples = samples[:, None]
                    mono = samples.astype(np.float64).mean(axis=1) / 32768.0
                    lm = logmel_frames(
                        mono, rate, n_mels=n_mels, frame_ms=frame_ms,
                        hop_ms=hop_ms, floor_db=floor_db,
                    )
                    row["n_frames"] = int(lm.shape[0])
                    row["n_mels"] = int(n_mels)
                    if lm.size:
                        row["mean_db"] = float(lm.mean())
                        row["max_db"] = float(lm.max())
                    row["feats"] = lm.astype(np.float32).ravel().tolist()
                except Exception as e:
                    row["error"] = f"{type(e).__name__}: {e}"
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)

    return assets.select("media_ref", "content").mapInPandas(
        gen, schema=LOGMEL_SCHEMA
    )
