"""Media payload resolution (S1, ref ocr_workflow_orchestrator.py:153-178).

A `media_ref` names an opaque binary payload. Backends:

  * "synthetic" — deterministic bytes derived from the ref itself (sandbox
    default; the fake scan images the fixture corpus is built on).
  * sidecar ("binaryFile") — at production scale the payloads live in object
    storage; the pipeline broadcast-joins a `spark.read.format("binaryFile")`
    sidecar on media_ref (J3, SURVEY.md §2.3) instead of fetching per row.
    Wired end-to-end: `sidecar_df()` builds the frame,
    `pipeline.extract_documents(media_sidecar=...)` attaches per-doc payload
    maps, and the Arrow stage decodes them (dispatch._resolve_sidecar,
    backend "sidecar").

Resolution happens INSIDE the Arrow-batched UDF stage (executor-side), never
on the driver.

The synthetic generator is counter-based (splitmix64 finalizer over a
sha256-derived per-ref key) so a whole batch of payloads is generated in a
few vectorized numpy passes — the previous per-ref `np.random.default_rng`
formulation cost ~140µs/ref and dominated the extraction stage profile.
"""

from __future__ import annotations

import hashlib

import numpy as np

IMG_SIDE = 32
_WORDS_BG = IMG_SIDE * IMG_SIDE // 8  # 128 uint64 → 1024 background bytes
_WORDS = 2 * _WORDS_BG + 1  # + bright plane + one parameter word

_GAMMA = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain construction)."""
    z = x.astype(np.uint64, copy=True)
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def media_seed(media_ref: str) -> int:
    return int.from_bytes(hashlib.sha256(media_ref.encode()).digest()[:8], "big")


_SYNTH_CHUNK = 2048  # refs per vectorized chunk: keeps temporaries malloc-sized


def synth_media_batch(refs: list[str]) -> np.ndarray:
    """Deterministic pseudo-scans for a whole batch: (N, 32, 32) uint8,
    1-3 bright text bands on a dark background per image (so the fake band
    detector finds structure), keyed by sha256(media_ref)."""
    if len(refs) > _SYNTH_CHUNK:
        out = np.empty((len(refs), IMG_SIDE, IMG_SIDE), dtype=np.uint8)
        for lo in range(0, len(refs), _SYNTH_CHUNK):
            out[lo : lo + _SYNTH_CHUNK] = _synth_chunk(refs[lo : lo + _SYNTH_CHUNK])
        return out
    return _synth_chunk(refs)


# byte → pixel maps of the two random planes: background 0-59, bright 150-255
_BG_LUT = (np.arange(256) % 60).astype(np.uint8)
_BRIGHT_LUT = (np.arange(256) % 106 + 150).astype(np.uint8)


def _synth_chunk(refs: list[str]) -> np.ndarray:
    n = len(refs)
    seeds = np.fromiter((media_seed(r) for r in refs), dtype=np.uint64, count=n)
    ctr = (np.arange(_WORDS, dtype=np.uint64) + np.uint64(1)) * _GAMMA
    words = _splitmix64(seeds[:, None] + ctr[None, :])  # (N, _WORDS)

    bg = np.take(_BG_LUT, words[:, :_WORDS_BG].view(np.uint8))
    bright = np.take(_BRIGHT_LUT, words[:, _WORDS_BG : 2 * _WORDS_BG].view(np.uint8))
    params = words[:, -1]

    # one per-row band mask (bands never overlap and share the bright
    # plane), then one select over the image
    n_lines = (seeds % np.uint64(3)).astype(np.int64) + 1  # 1-3 bands
    rows = np.arange(IMG_SIDE, dtype=np.int64)[None, :]
    band_rows = np.zeros((n, IMG_SIDE), dtype=bool)
    y0 = np.full(n, 2, dtype=np.int64)
    for line in range(3):
        h = 4 + ((params >> np.uint64(8 * line)) & np.uint64(3)).astype(np.int64)
        active = n_lines > line
        band_rows |= active[:, None] & (rows >= y0[:, None]) & (rows < (y0 + h)[:, None])
        y0 = y0 + h + 3  # max 2 + 3*(7+3) = 32 ≤ IMG_SIDE: bands always fit
    return np.where(
        band_rows[:, :, None],
        bright.reshape(n, IMG_SIDE, IMG_SIDE),
        bg.reshape(n, IMG_SIDE, IMG_SIDE),
    )


def synth_media_bytes(media_ref: str) -> bytes:
    """Scalar convenience wrapper over synth_media_batch (tests/goldens)."""
    return synth_media_batch([media_ref])[0].tobytes()


def resolve_gray_batch(
    refs: list[str | None], backend: str = "synthetic"
) -> tuple[np.ndarray, np.ndarray]:
    """Batch resolution straight to stacked grayscale images.

    Returns (grays: (N,32,32) uint8, ok: (N,) bool). Slots with a null /
    unresolvable ref have ok=False and undefined pixel content.
    """
    if backend != "synthetic":
        raise NotImplementedError(
            f"media backend {backend!r}: production path is a broadcast join "
            "against a binaryFile sidecar (see sidecar_df), not per-row fetch"
        )
    ok = np.array([bool(r) for r in refs], dtype=bool)
    good = [r for r in refs if r]
    grays = np.zeros((len(refs), IMG_SIDE, IMG_SIDE), dtype=np.uint8)
    if good:
        grays[ok] = synth_media_batch(good)
    return grays, ok


def resolve_batch(refs: list[str]) -> list[bytes | None]:
    grays, ok = resolve_gray_batch(refs)
    return [g.tobytes() if o else None for g, o in zip(grays, ok)]


def sidecar_df(spark, glob_path: str):
    """Production-scale media sidecar: (media_ref, content) from binary files.
    Join pattern: F.broadcast(sidecar) on media_ref when the sidecar is small,
    else a bucketed shuffle join."""
    from pyspark.sql import functions as F

    bf = spark.read.format("binaryFile").load(glob_path)
    return bf.select(F.col("path").alias("media_ref"), F.col("content"))


def synth_gif_bytes(media_ref: str) -> bytes:
    """Deterministic synthetic animated GIF (real GIF89a container, real LZW):
    2-5 frames derived from the ref's synthetic grayscale image, each frame
    rolled by a seed-dependent shift — the video twin of synth_media_batch,
    so the GIF codec and frame sampling have a reproducible corpus."""
    from ocr_spark.operators.image_codecs import gif_encode

    seed = media_seed(media_ref)
    base = synth_media_batch([media_ref])[0]
    n_frames = 2 + (seed % 4)
    frames = [np.roll(base, (seed >> 4) % 7 + f * 3, axis=1) for f in range(n_frames)]
    return gif_encode(frames)


def synth_audio_bytes(media_ref: str) -> bytes:
    """Deterministic synthetic WAV payload (real RIFF container, 16-bit mono
    PCM): a sine whose frequency/duration derive from the ref hash — the
    audio twin of synth_media_batch, so the WAV codec and audio features
    have a reproducible corpus."""
    import io
    import wave

    seed = media_seed(media_ref)
    freq = 200.0 + (seed % 600)
    sr = 8000
    n = int(sr * (0.1 + ((seed >> 8) % 4) * 0.05))
    t = np.arange(n) / sr
    x = (np.sin(2 * np.pi * freq * t) * 18000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(x.tobytes())
    return buf.getvalue()


def synth_audio_compressed_bytes(media_ref: str) -> bytes:
    """Deterministic synthetic compressed-WAV payload: the same seeded sine
    as synth_audio_bytes but encoded with a seed-chosen REAL compressed
    format (G.711 mu-law / A-law or IMA ADPCM, telephony/legacy-voice
    corpus staples) so the non-PCM WAV decode path has a reproducible
    fixture corpus."""
    from ocr_spark.operators.audio_codecs import wav_encode

    seed = media_seed(media_ref)
    freq = 200.0 + (seed % 600)
    sr = 8000
    n = int(sr * (0.1 + ((seed >> 8) % 4) * 0.05))
    t = np.arange(n) / sr
    x = (np.sin(2 * np.pi * freq * t) * 18000).astype(np.int16)
    fmt = ("ulaw", "alaw", "ima_adpcm")[(seed >> 12) % 3]
    return wav_encode(x, sr, fmt)


def synth_similar_image_bytes(media_ref: str, group: int = 4) -> bytes:
    """Deterministic NEAR-DUPLICATE image corpus: 'img://<id>' resolves to
    the group base image (keyed by id // group) plus a small id-keyed pixel
    perturbation — what re-encoded / re-scraped copies of one image look
    like in a crawl. Raw 32x32 gray bytes (the 'synthetic' codec)."""
    m = int(media_ref.rsplit("/", 1)[-1])
    base = synth_media_batch([f"img-group://{m // group}"])[0].astype(np.int16)
    noise = np.random.RandomState(m & 0x7FFFFFFF).randint(-3, 4, base.shape)
    return np.clip(base + noise, 0, 255).astype(np.uint8).tobytes()
