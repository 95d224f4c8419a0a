"""Merges-table-driven byte-pair-encoding token counts.

The heuristic token counters in operators/text_analysis.py (whitespace +
word/punct regex) approximate tokenizer load; training-data budgeting needs
counts from a REAL BPE vocabulary (ref: the extraction pipeline's text
output feeds tokenizer-budgeted corpora — OCR-X_Requirements_Specification.md
output contract). This module carries the classic BPE algorithm (Sennrich et
al. 2016, the GPT-2-style rank loop) end to end:

- `bpe_train`: pure-Python trainer — greedy highest-count pair merging over
  a pre-tokenized word-frequency table, deterministic tie-breaks.
- `ocr_spark/resources/bpe_merges.txt`: the in-repo merges fixture,
  regenerated by `scripts/gen_bpe_merges.py` from an embedded seed text.
- `token_counts_bpe`: the Spark operator. The merges table is tiny (KBs)
  and the per-token work is an irregular data-dependent loop no Catalyst
  expression expresses, so this is the documented Pandas-UDF slow path done
  right: ranks dict broadcast via SparkContext.broadcast (one copy per
  executor, not per task), Arrow-batched pandas UDF, and a per-executor
  word→length memo so Zipf-repeated words tokenize once per executor, not
  once per row.

At 100 TB the operator is embarrassingly parallel (no shuffle — a scan-side
projection); throughput is governed by the Python stage alone, and the memo
makes that ~the cost of dict lookups on the hot Zipf head.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from typing import Iterable, Sequence

import pandas as pd  # module-level: the pandas_udf type hints resolve here
from pyspark.sql import DataFrame, functions as F

# pre-tokenizer shared with the regex counter in text_analysis (letter runs,
# digit runs, single punctuation) so the two counters differ ONLY in the
# sub-word merge step
PRETOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

MERGES_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "bpe_merges.txt",
)


def bpe_train(
    texts: Iterable[str], n_merges: int = 256
) -> list[tuple[str, str]]:
    """Learn a merges table from raw texts (driver-side convenience —
    fixture generation, tests). The corpus-scale entry point is
    bpe_train_df, which computes the word-frequency table distributed and
    feeds the same merge loop."""
    pre = re.compile(PRETOKEN_PATTERN)
    words: Counter[str] = Counter()
    for t in texts:
        words.update(pre.findall(t))
    return bpe_train_from_counts(words, n_merges)


def _merge_parts(parts: Sequence[str], a: str, b: str) -> list[str]:
    """Apply one merge to a symbol sequence, left to right."""
    out: list[str] = []
    i = 0
    while i < len(parts):
        if i + 1 < len(parts) and parts[i] == a and parts[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(parts[i])
            i += 1
    return out


def bpe_train_from_counts(
    words: dict[str, int], n_merges: int = 256
) -> list[tuple[str, str]]:
    """The classic BPE merge loop (Sennrich et al. 2016) over a
    word-frequency table, with INCREMENTAL pair-count maintenance (the
    subword-nmt optimization): each merge only touches the words that
    contain the merged pair, so per-merge cost is proportional to the
    pair's support, not |vocab|. A naive full-recount loop is
    O(n_merges x |vocab|) — fine at 256 merges, hours at a real 32k-merge
    vocabulary. Output is EXACTLY the naive loop's (same greedy choice,
    same (-count, pair) lexicographic tie-break; equality is
    property-tested against _bpe_train_naive)."""
    entries: list[list] = [[list(w), c] for w, c in words.items()]
    pairs: Counter[tuple[str, str]] = Counter()
    where: dict[tuple[str, str], set[int]] = {}
    for wid, (parts, c) in enumerate(entries):
        for i in range(len(parts) - 1):
            p = (parts[i], parts[i + 1])
            pairs[p] += c
            where.setdefault(p, set()).add(wid)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        # `where` may hold stale ids (the word lost the pair in an earlier
        # merge); for those the remove-then-re-add below is a no-op wash
        for wid in where.get(best, ()):
            parts, c = entries[wid]
            for i in range(len(parts) - 1):
                p = (parts[i], parts[i + 1])
                pairs[p] -= c
                if pairs[p] <= 0:
                    del pairs[p]
            new_parts = _merge_parts(parts, a, b)
            entries[wid][0] = new_parts
            for i in range(len(new_parts) - 1):
                p = (new_parts[i], new_parts[i + 1])
                pairs[p] += c
                where.setdefault(p, set()).add(wid)
        where.pop(best, None)
        pairs.pop(best, None)
    return merges


def _bpe_train_naive(
    words: dict[str, int], n_merges: int = 256
) -> list[tuple[str, str]]:
    """Reference implementation: full pair recount per merge. Kept as the
    equality oracle for bpe_train_from_counts (tests)."""
    vocab: dict[tuple[str, ...], int] = {
        tuple(w): c for w, c in words.items()
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for parts, c in vocab.items():
            for i in range(len(parts) - 1):
                pairs[(parts[i], parts[i + 1])] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        new_vocab: dict[tuple[str, ...], int] = {}
        for parts, c in vocab.items():
            key = tuple(_merge_parts(parts, a, b))
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def corpus_word_counts(
    docs: DataFrame,
    text_col: str = "text",
    top_words: int = 200_000,
    min_count: int = 1,
) -> dict[str, int]:
    """Distributed word-frequency table for tokenizer training: ONE
    map-side-combined shuffle on the word key (regexp_extract_all +
    explode + groupBy — the ngram_lm unigram shape), then a deterministic
    top-K cut by (count desc, word asc).

    top_words bounds the driver-side table (and with it bpe_train's merge
    loop) regardless of corpus size — the standard tokenizer-training
    practice: the Zipf tail contributes negligible pair counts but
    unbounded vocabulary (digit runs, OCR garble). The cut is orderBy +
    limit over the POST-aggregation vocab table (w is unique, so the order
    is total): TakeOrderedAndProject, no single-partition window."""
    counts = (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.col(text_col), F.lit(PRETOKEN_PATTERN), 0
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    if min_count > 1:
        counts = counts.where(F.col("c") >= F.lit(min_count))
    rows = counts.orderBy(F.col("c").desc(), F.col("w").asc()).limit(top_words).collect()
    return {r["w"]: int(r["c"]) for r in rows}


def bpe_train_df(
    docs: DataFrame,
    n_merges: int = 256,
    text_col: str = "text",
    top_words: int = 200_000,
    min_count: int = 1,
) -> list[tuple[str, str]]:
    """Corpus-scale BPE training: distributed word counts (one shuffle,
    see corpus_word_counts) + the driver-side merge loop over the bounded
    table. With top_words covering the full vocabulary this equals
    bpe_train over the same texts exactly (tested); the learned merges
    feed token_counts_bpe / pack_sequences directly — the full
    train-tokenizer -> count -> pack chain runs from `documents` alone."""
    return bpe_train_from_counts(
        corpus_word_counts(docs, text_col, top_words, min_count), n_merges
    )


def save_merges(merges: Sequence[tuple[str, str]], path: str = MERGES_PATH) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write("".join(f"{a}\t{b}\n" for a, b in merges))


def load_merges(path: str = MERGES_PATH) -> list[tuple[str, str]]:
    merges = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if not line:
                continue
            a, _, b = line.partition("\t")
            merges.append((a, b))
    return merges


def _apply_merges(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """THE core BPE apply loop (one definition — bpe_encode_len and
    bpe_encode_parts are memoizing wrappers): repeatedly merge the
    lowest-rank adjacent pair (all its occurrences, left to right) until
    none applies. Merging pair p can only create pairs of HIGHER rank
    than p (new symbols postdate p's constituents), so this min-rank loop
    is exactly 'apply the merges in training order'."""
    parts = list(word)
    while len(parts) > 1:
        best_rank = None
        best_pair = None
        for i in range(len(parts) - 1):
            r = ranks.get((parts[i], parts[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank = r
                best_pair = (parts[i], parts[i + 1])
        if best_pair is None:
            break
        parts = _merge_parts(parts, *best_pair)
    return parts


def bpe_encode_len(
    word: str, ranks: dict[tuple[str, str], int], memo: dict[str, int] | None = None
) -> int:
    """Token count for ONE pre-token under the ranked merges (see
    _apply_merges). The int memo stays separate from bpe_encode_parts'
    tuple memo — budget-only callers keep the cheap cache."""
    if memo is not None:
        n = memo.get(word)
        if n is not None:
            return n
    n = len(_apply_merges(word, ranks))
    if memo is not None:
        memo[word] = n
    return n


def token_counts_bpe(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    merges: Sequence[tuple[str, str]] | None = None,
    out_col: str = "n_tokens_bpe",
) -> DataFrame:
    """Per-document BPE token counts: id_cols + `out_col` (long, 0 for
    null/empty text). Broadcast ranks + Arrow-batched pandas UDF with a
    per-executor word memo (see module docstring for the scale argument)."""
    from pyspark.sql.functions import pandas_udf

    if merges is None:
        merges = load_merges()
    ranks = {pair: i for i, pair in enumerate(merges)}
    bc = df.sparkSession.sparkContext.broadcast(ranks)
    pre = re.compile(PRETOKEN_PATTERN)
    # per-executor: the UDF closure is reused across Arrow batches. Capped —
    # distinct pre-tokens are unbounded at corpus scale (digit runs, OCR
    # garble), so an uncapped dict grows until the Python worker OOMs; a
    # wholesale clear is O(1) and the Zipf head re-warms within a batch
    memo: dict[str, int] = {}
    MEMO_CAP = 1_000_000  # ~tens of MB of short keys + ints

    @pandas_udf("long")
    def _n_tokens(texts: pd.Series) -> pd.Series:
        r = bc.value
        if len(memo) > MEMO_CAP:
            memo.clear()
        return texts.map(
            lambda t: (
                0
                if t is None
                else sum(bpe_encode_len(w, r, memo) for w in pre.findall(t))
            )
        ).astype("int64")

    return df.select(*id_cols, _n_tokens(F.col(text_col)).alias(out_col))


# ---------------------------------------------------------------------------
# Token-ID emission (the materialization path: counts budget sequences,
# ids FILL them). Ref: the reference's output contract stops at extracted
# text (ocr_engine_interface.py:56-73); the id/vocab layer is the
# training-data continuation of that contract.
# ---------------------------------------------------------------------------

# reserved ids, stable by construction: everything the encoder can emit
# starts AFTER the specials block
UNK_ID = 0
PAD_ID = 1
SEP_ID = 2
_N_SPECIALS = 3


def bpe_vocab(
    merges: Sequence[tuple[str, str]],
    alphabet: Iterable[str] | None = None,
) -> dict[str, int]:
    """Deterministic symbol->id table for a merges list: specials
    (unk=0, pad=1, sep=2), then the single-char alphabet sorted by
    codepoint, then each merge's product in training order. Merge products
    have length >= 2 so they can never collide with the alphabet, and the
    trainer never emits the same pair twice, so ids are dense and unique.

    Default alphabet = every char appearing in a merge constituent plus
    printable ASCII, so a vocab built from any trained merges table can
    encode plain English text without unks."""
    if alphabet is None:
        chars = {ch for pair in merges for side in pair for ch in side}
        chars |= {chr(c) for c in range(32, 127)}
    else:
        chars = set(alphabet)
    vocab: dict[str, int] = {}
    next_id = _N_SPECIALS
    for ch in sorted(chars):
        vocab[ch] = next_id
        next_id += 1
    for a, b in merges:
        sym = a + b
        if sym not in vocab:  # guard: a hand-written table may repeat
            vocab[sym] = next_id
            next_id += 1
    return vocab


def bpe_encode_parts(
    word: str,
    ranks: dict[tuple[str, str], int],
    memo: dict[str, tuple[str, ...]] | None = None,
) -> tuple[str, ...]:
    """Symbol sequence for ONE pre-token under the ranked merges (see
    _apply_merges — the single shared apply loop), returning the parts
    instead of their count. Separate memo: this one stores tuples, the
    count path stores ints and stays cheap for budget-only callers."""
    if memo is not None:
        p = memo.get(word)
        if p is not None:
            return p
    out = tuple(_apply_merges(word, ranks))
    if memo is not None:
        memo[word] = out
    return out


def encode_token_ids(
    df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    merges: Sequence[tuple[str, str]] | None = None,
    vocab: dict[str, int] | None = None,
    out_col: str = "input_ids",
    sep_id: int | None = None,
) -> DataFrame:
    """Per-document BPE token ids: id_cols + `out_col` (array<int>).
    Null/empty text encodes to an empty array (plus the sep if set);
    symbols outside the vocab emit UNK_ID. With sep_id set, the sep is
    appended to EVERY doc's ids here — before pack_sequences sees the
    counts — so size(input_ids) is the number the packer budgets and
    sequences can never overflow by the separator.

    Scale shape: identical to token_counts_bpe (broadcast ranks+vocab,
    Arrow-batched pandas UDF, per-executor memo, no shuffle); the payload
    is ~4 bytes/token on the wire, the same order as the text it encodes.

    Invariant (tested): size(encode_token_ids(...)) == token_counts_bpe(...)
    + (1 if sep_id else 0) for every doc."""
    from pyspark.sql.functions import pandas_udf

    if merges is None:
        merges = load_merges()
    if vocab is None:
        vocab = bpe_vocab(merges)
    ranks = {pair: i for i, pair in enumerate(merges)}
    sc = df.sparkSession.sparkContext
    bc_ranks = sc.broadcast(ranks)
    bc_vocab = sc.broadcast(vocab)
    pre = re.compile(PRETOKEN_PATTERN)
    memo: dict[str, tuple[str, ...]] = {}
    MEMO_CAP = 500_000  # tuples are heavier than the count memo's ints
    tail = [sep_id] if sep_id is not None else []

    @pandas_udf("array<int>")
    def _ids(texts: pd.Series) -> pd.Series:
        r = bc_ranks.value
        v = bc_vocab.value
        if len(memo) > MEMO_CAP:
            memo.clear()

        def enc(t):
            if t is None:
                return list(tail)
            out: list[int] = []
            for w in pre.findall(t):
                for sym in bpe_encode_parts(w, r, memo):
                    out.append(v.get(sym, UNK_ID))
            out.extend(tail)
            return out

        return texts.map(enc)

    return df.select(*id_cols, _ids(F.col(text_col)).alias(out_col))
