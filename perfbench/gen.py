"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (size, seed): numpy ``default_rng``
streams only, no wall clock, no global state. The program under test never
sees the seed, only the parquet files written here.

Inputs are cached under the benchmark's work directory, keyed by workload,
seed and size; a cache entry is complete only once its ``meta.json`` exists
(written last, by rename), so an interrupted generation is regenerated.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Extraction inputs are split over a few files so the scan itself runs as
# several tasks; one small file would be a single scan task.
N_FILES = 8

HEAVY_FRAC = 0.05
HEAVY_MIN_SPANS, HEAVY_MAX_SPANS = 256, 1024

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)

# corpus_pipeline_full's eval split: doc_id % 37 == 0 is the eval set
EVAL_MOD = 37
CORPUS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


# ---------------------------------------------------------------------------
# extraction workloads
# ---------------------------------------------------------------------------


def _pool(seed: int, start: int, count: int) -> list[dict]:
    from ocr_spark.fixtures import generate_docs_chunk

    return generate_docs_chunk(start, count, seed)


def _light_docs(n: int, seed: int) -> list[dict]:
    """n docs from the fixture generator with its media-heavy skew docs
    removed."""
    out: list[dict] = []
    start = 0
    while len(out) < n:
        chunk = max(64, n - len(out) + n // 8)
        for d in _pool(seed, start, chunk):
            if len(d["spans"]) >= HEAVY_MIN_SPANS:
                continue
            out.append({"doc_id": d["doc_id"], "spans": d["spans"]})
            if len(out) == n:
                break
        start += chunk
    return out


def _heavy_counts(k: int, rng: np.random.Generator) -> np.ndarray:
    """Stratified span counts over [HEAVY_MIN_SPANS, HEAVY_MAX_SPANS]: one
    draw per equal-width stratum, so the media work in a workload varies
    little from seed to seed while each doc's size still does."""
    width = (HEAVY_MAX_SPANS - HEAVY_MIN_SPANS + 1) / k
    counts = HEAVY_MIN_SPANS + np.floor((np.arange(k) + rng.random(k)) * width)
    return rng.permutation(counts.astype(np.int64))


def gen_mixed(n: int, seed: int) -> list[dict]:
    """The flagship mix: the fixture corpus's light docs (text, html, pdf,
    ocr and media spans) plus exactly round(5%) media-heavy docs with
    256-1024 media spans each, in a seeded order."""
    from ocr_spark.fixtures import media_ref_for

    rng = np.random.default_rng([seed, 1])
    n_heavy = max(1, round(n * HEAVY_FRAC))
    docs = _light_docs(n - n_heavy, seed)
    for j, cnt in enumerate(_heavy_counts(n_heavy, rng)):
        doc_id = f"doc-s{seed}-h{j:05d}"
        spans = [
            {
                "kind": "ocr" if off < 4 else "media",
                "text": None,
                "media_ref": media_ref_for(doc_id, off),
                "offset": off,
            }
            for off in range(int(cnt))
        ]
        docs.append({"doc_id": doc_id, "spans": spans})
    return [docs[i] for i in rng.permutation(len(docs))]


def span_counts(docs: list[dict]) -> dict[str, int]:
    counts = {k: 0 for k in ("text", "html", "pdf", "ocr", "media")}
    for d in docs:
        for s in d["spans"]:
            counts[s["kind"]] += 1
    return counts


def write_parquet(rows: list[dict], path: str, schema: pa.Schema, n_files: int = N_FILES) -> None:
    """`rows` as up to `n_files` equal parquet part files under `path`."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        part = rows[f * per : (f + 1) * per]
        if part:
            tbl = pa.Table.from_pylist(part, schema=schema)
            pq.write_table(tbl, os.path.join(path, f"part-{f:03d}.parquet"))


# ---------------------------------------------------------------------------
# corpus hygiene workload
# ---------------------------------------------------------------------------

_CONS = "bcdfghjklmnprstvz"
_VOWS = "aeiou"
_STOP = ("the", "of", "and", "to", "in", "for")
_LANGS = ("en", "de", "fr", "es")


def _vocab(rng: np.random.Generator, size: int = 6000) -> list[str]:
    """Pronounceable 3-4 syllable pseudo-words: a vocabulary large enough
    that two unrelated docs never share a 6-gram by chance."""
    words: set[str] = set()
    while len(words) < size:
        n_syl = int(rng.integers(3, 5))
        words.add(
            "".join(
                _CONS[int(rng.integers(len(_CONS)))] + _VOWS[int(rng.integers(len(_VOWS)))]
                for _ in range(n_syl)
            )
        )
    return sorted(words)


def _prose(rng: np.random.Generator, vocab: list[str], n_words: int) -> list[str]:
    """Word tokens of sentence-shaped prose: mostly unique content words,
    ~5% stopwords, a period every 8-14 words. Stopwords stay rare so they
    do not dominate the SimHash votes of unrelated docs."""
    out: list[str] = []
    while len(out) < n_words:
        sent = []
        for _ in range(int(rng.integers(8, 15))):
            if rng.random() < 0.05:
                sent.append(_STOP[int(rng.integers(len(_STOP)))])
            else:
                sent.append(vocab[int(rng.integers(len(vocab)))])
        sent[0] = sent[0].capitalize()
        sent[-1] += "."
        out.extend(sent)
    return out[:n_words]


def _junk(rng: np.random.Generator) -> str:
    """Symbol-and-number spam repeated line by line: fails quality v2."""
    toks = [
        "".join("#$%&*+=<>|~^"[int(rng.integers(12))] for _ in range(3))
        + str(int(rng.integers(10, 99)))
        for _ in range(int(rng.integers(4, 9)))
    ]
    line = " ".join(toks)
    return "\n".join([line] * int(rng.integers(6, 12)))


def _vary_case(rng: np.random.Generator, words: list[str]) -> list[str]:
    """A near-duplicate: ~20% of words upper-cased. SimHash tokens are
    lower-cased, so the copy lands at hamming distance 0 from its source."""
    return [w.upper() if rng.random() < 0.2 else w for w in words]


def gen_corpus(n: int, seed: int) -> tuple[list[dict], dict]:
    """`documents`-shaped rows (doc_id, text, lang, source, n_chars) with
    planted structure, and the counts corpus_pipeline_full must produce:

    * eval docs: doc_id % 37 == 0 (the pipeline's eval split);
    * ~8% junk docs that fail quality v2;
    * near-duplicate groups of 2-4 case-variants (one survivor each);
    * contaminated docs carrying a 12-word passage of a distinct eval doc;
    * docs carrying an email, an IPv4 address and a phone number.
    """
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng)
    texts: dict[int, list[str] | str] = {}
    eval_ids = [i for i in range(n) if i % EVAL_MOD == 0]
    corpus_ids = [int(i) for i in rng.permutation([i for i in range(n) if i % EVAL_MOD])]
    for i in eval_ids:
        texts[i] = _prose(rng, vocab, int(rng.integers(60, 140)))

    n_corpus = len(corpus_ids)
    n_junk = n_corpus * 8 // 100
    n_cont = min(len(eval_ids), max(1, n_corpus // 60))
    n_pii = max(1, n_corpus // 25)
    pos = 0
    junk_ids = corpus_ids[pos : pos + n_junk]
    pos += n_junk
    cont_ids = corpus_ids[pos : pos + n_cont]
    pos += n_cont
    pii_ids = corpus_ids[pos : pos + n_pii]
    pos += n_pii
    rest = corpus_ids[pos:]

    for i in junk_ids:
        texts[i] = _junk(rng)
    for i, e in zip(cont_ids, rng.permutation(eval_ids)[:n_cont]):
        src = texts[int(e)]
        at = int(rng.integers(0, len(src) - 12))
        words = _prose(rng, vocab, int(rng.integers(60, 140)))
        cut = int(rng.integers(5, len(words) - 5))
        texts[i] = words[:cut] + src[at : at + 12] + words[cut:]
    for i in pii_ids:
        words = _prose(rng, vocab, int(rng.integers(60, 140)))
        user = vocab[int(rng.integers(len(vocab)))]
        words += [
            "Contact", f"{user}.{i}@example.org", "or", "call",
            f"555-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}",
            "from", f"10.{int(rng.integers(0, 255))}.{int(rng.integers(0, 255))}.7",
        ]
        texts[i] = words

    # near-dup groups over the remaining plain docs, then singletons
    n_dup_dropped = 0
    n_groups = 0
    k = 0
    target_in_groups = len(rest) // 5
    while k < target_in_groups:
        g = int(rng.integers(2, 5))
        members = rest[k : k + g]
        if len(members) < 2:
            break
        base = _prose(rng, vocab, int(rng.integers(60, 140)))
        texts[members[0]] = base
        for m in members[1:]:
            texts[m] = _vary_case(rng, base)
        n_dup_dropped += len(members) - 1
        n_groups += 1
        k += g
    for i in rest[k:]:
        texts[i] = _prose(rng, vocab, int(rng.integers(60, 140)))

    rows = []
    for i in range(n):
        t = texts[i]
        text = t if isinstance(t, str) else " ".join(t)
        rows.append(
            {
                "doc_id": i,
                "text": text,
                "lang": _LANGS[i % len(_LANGS)],
                "source": f"src{i % 20}",
                "n_chars": len(text),
            }
        )
    kept_quality = n_corpus - n_junk
    kept_dedup = kept_quality - n_dup_dropped
    expected = {
        "n_docs": n,
        "n_eval": len(eval_ids),
        "n_corpus": n_corpus,
        "kept_quality": kept_quality,
        "dup_groups": n_groups,
        "kept_dedup": kept_dedup,
        "contaminated": n_cont,
        "kept": kept_dedup - n_cont,
        "pii_docs": n_pii,
    }
    return rows, expected


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------


def build(workload: str, n: int, seed: int, path: str) -> dict:
    """Generate one workload's input into `path`; returns its meta dict."""
    if workload == "corpus_hygiene":
        rows, expected = gen_corpus(n, seed)
        write_parquet(rows, path, CORPUS_SCHEMA)
        return {"workload": workload, "seed": seed, "n": n, "expected": expected}
    docs = gen_mixed(n, seed)
    write_parquet(docs, path, DOCS_SCHEMA)
    return {
        "workload": workload,
        "seed": seed,
        "n": len(docs),
        "spans": span_counts(docs),
    }


def cached_input(cache_dir: str, workload: str, n: int, seed: int) -> tuple[str, dict]:
    """(data dir, meta) for the workload input, generating it on a miss."""
    key = os.path.join(cache_dir, f"{workload}-n{n}-s{seed}")
    meta_path = os.path.join(key, "meta.json")
    data = os.path.join(key, "data")
    if os.path.isfile(meta_path):
        with open(meta_path) as f:
            return data, json.load(f)
    shutil.rmtree(key, ignore_errors=True)
    meta = build(workload, n, seed, data)
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, meta_path)
    return data, meta


def read_spans_docs(path: str) -> list[dict]:
    """The generated docs back as dicts (for golden samples and kernels)."""
    return pq.read_table(path).to_pylist()
