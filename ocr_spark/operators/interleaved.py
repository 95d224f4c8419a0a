"""Interleaved multimodal training-sequence materialization.

The engine's native table IS an interleaved text+media document
(doc_id, spans<kind,text,media_ref,offset> — schema.py, from
BASELINE.json.input_hint); materialize_training flattens it to TEXT-only
sequences. Modern multimodal pretraining (MMC4, Zhu et al. 2023;
OBELICS, Laurençon et al. 2023; Flamingo-class interleaved consumers)
instead keeps the media IN PLACE: each media span becomes one sentinel
token inside the token stream, and the sequence carries an ALIGNED
sidecar of media references — the trainer swaps the j-th sentinel for the
embedding of the j-th reference.

Reference-parity anchor: the reference's contract stops at extracted text
+ confidence per doc (ocr_engine_interface.py:56-73); this is the
training-data continuation for its interleaved input shape.

Contract (property-tested):

* ``encode_interleaved`` — per doc, spans in offset order (ties keep array
  order): text spans BPE-encode (functions/bpe.py, same merges/vocab as
  the text path); spans with a media_ref emit exactly ONE ``media_id``
  sentinel and append their ref to ``media_refs``; spans with neither are
  skipped. The sentinel defaults to -1: the BPE vocab is dense and
  non-negative by construction, so a negative id can never collide (and
  pad/unk/sep keep their reserved non-negative ids). With ``sep=True``
  (default) SEP_ID is appended per doc BEFORE packing, the
  materialize_training budget convention.
* alignment invariant: count of sentinels in ``input_ids`` ==
  ``size(media_refs)``, in span order.
* ``interleaved_sequences[_grouped]`` — pack-and-fill (the
  materialize_sequences twins, extended): sequences are EXACTLY
  max_tokens long; truncation cuts the token tail AND the refs of any
  sentinels that fell off (kept sentinels are a prefix of the doc-order
  refs, so alignment survives truncation by construction);
  ``media_positions`` gives each kept sentinel's 0-based offset in
  ``input_ids``. The two implementations are bit-identity-tested; the
  grouped one cogroups on the pack bucket so the token payload crosses
  ONE exchange (the materialize_sequences_grouped scale argument).

Scale shape: encode is one Arrow stage (broadcast ranks/vocab, no
shuffle); pack is the existing sharded packer; fill is one cogrouped
exchange. Nothing new shuffles at 10^12 docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ocr_spark.functions.bpe import (
    PAD_ID,
    SEP_ID,
    UNK_ID,
    bpe_encode_parts,
    bpe_vocab,
    load_merges,
)
from ocr_spark.operators.corpus_clean import pack_bucket as _pack_bucket

__all__ = [
    "MEDIA_ID",
    "encode_interleaved",
    "interleaved_sequences",
    "interleaved_sequences_grouped",
    "interleave_training",
]

MEDIA_ID = -1  # outside the dense non-negative vocab id space by sign

_ENC_FIELDS = [
    T.StructField("input_ids", T.ArrayType(T.IntegerType())),
    T.StructField("media_refs", T.ArrayType(T.StringType())),
    T.StructField("n_media", T.IntegerType()),
]


def encode_interleaved(
    docs: DataFrame,
    merges=None,
    vocab: dict[str, int] | None = None,
    media_id: int = MEDIA_ID,
    sep: bool = True,
    id_col: str = "doc_id",
    spans_col: str = "spans",
) -> DataFrame:
    """(id_col, input_ids, media_refs, n_media) per interleaved document —
    ONE Arrow-batched mapInPandas stage, no shuffle (see module spec)."""
    import re

    import pandas as pd

    from ocr_spark.functions.bpe import PRETOKEN_PATTERN

    if media_id >= 0:
        raise ValueError(
            f"media_id must be negative (vocab ids are dense from 0), "
            f"got {media_id}"
        )
    if merges is None:
        merges = load_merges()
    if vocab is None:
        vocab = bpe_vocab(merges)
    ranks = {pair: i for i, pair in enumerate(merges)}
    sc = docs.sparkSession.sparkContext
    bc_ranks = sc.broadcast(ranks)
    bc_vocab = sc.broadcast(vocab)
    pre = re.compile(PRETOKEN_PATTERN)
    schema = T.StructType([docs.schema[id_col]] + _ENC_FIELDS)
    memo: dict[str, tuple[str, ...]] = {}
    MEMO_CAP = 500_000

    def gen(batches):
        r = bc_ranks.value
        v = bc_vocab.value
        for pdf in batches:
            out_ids, out_refs, out_nm = [], [], []
            for spans in pdf[spans_col]:
                if len(memo) > MEMO_CAP:
                    memo.clear()
                ids: list[int] = []
                refs: list[str] = []
                ordered = sorted(
                    enumerate(spans if spans is not None else []),
                    key=lambda p: (
                        p[1]["offset"] if p[1]["offset"] is not None else 0,
                        p[0],
                    ),
                )
                for _, s in ordered:
                    ref = s["media_ref"]
                    if ref is not None:
                        ids.append(media_id)
                        refs.append(ref)
                    elif s["text"] is not None:
                        for w in pre.findall(s["text"]):
                            for sym in bpe_encode_parts(w, r, memo):
                                ids.append(v.get(sym, UNK_ID))
                if sep:
                    ids.append(SEP_ID)
                out_ids.append(ids)
                out_refs.append(refs)
                out_nm.append(len(refs))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "input_ids": out_ids,
                    "media_refs": out_refs,
                    "n_media": out_nm,
                }
            )

    return docs.select(id_col, spans_col).mapInPandas(gen, schema=schema)


# ---------------------------------------------------------------------------
# pack-and-fill
# ---------------------------------------------------------------------------

_SEQ_FIELDS = [
    T.StructField("seq_id", T.StringType()),
    T.StructField("input_ids", T.ArrayType(T.IntegerType())),
    T.StructField("media_refs", T.ArrayType(T.StringType())),
    T.StructField("media_positions", T.ArrayType(T.IntegerType())),
    T.StructField("n_docs", T.LongType()),
    T.StructField("n_tokens", T.LongType()),
    T.StructField("n_media_total", T.IntegerType()),
    T.StructField("truncated", T.BooleanType()),
]


def interleaved_sequences(
    enc: DataFrame,
    packed: DataFrame,
    max_tokens: int,
    pad_id: int = PAD_ID,
    media_id: int = MEDIA_ID,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reference fill (pure Column expressions, two payload exchanges):
    (seq_id, input_ids[max_tokens], media_refs, media_positions, n_docs,
    n_tokens, n_media_total, truncated). Kept media_refs are the prefix
    of the slot-order refs whose sentinels survived truncation."""
    j = packed.select(id_col, "seq_id", "seq_pos").join(enc, id_col)
    agg = j.groupBy("seq_id").agg(
        F.array_sort(
            F.collect_list(F.struct("seq_pos", "input_ids", "media_refs"))
        ).alias("_arr"),
        F.count("*").alias("n_docs"),
    )
    agg = agg.select(
        "seq_id",
        "n_docs",
        F.flatten(F.transform("_arr", lambda s: s["input_ids"])).alias("_flat"),
        F.flatten(F.transform("_arr", lambda s: s["media_refs"])).alias(
            "_refs"
        ),
    )
    cut = F.slice("_flat", 1, max_tokens)
    positions = F.when(
        F.size(cut) > 0,
        F.filter(
            F.transform(
                # sequence(1, 0) DESCENDS in Spark; the when() guards it
                F.sequence(F.lit(1), F.size(cut)),
                lambda i: F.when(
                    F.element_at(cut, i) == F.lit(media_id), i - 1
                ),
            ),
            lambda x: x.isNotNull(),
        ),
    ).otherwise(F.expr("array()").cast("array<int>"))
    return agg.select(
        "seq_id",
        F.concat(
            cut,
            F.array_repeat(
                F.lit(pad_id),
                F.greatest(F.lit(0), F.lit(max_tokens) - F.size("_flat")),
            ),
        ).cast("array<int>").alias("input_ids"),
        F.slice(
            "_refs", F.lit(1), F.size(positions)
        ).alias("media_refs"),
        positions.alias("media_positions"),
        "n_docs",
        F.size("_flat").cast("long").alias("n_tokens"),
        F.size("_refs").alias("n_media_total"),
        (F.size("_flat") > F.lit(max_tokens)).alias("truncated"),
    )


def interleaved_sequences_grouped(
    enc: DataFrame,
    packed: DataFrame,
    max_tokens: int,
    pad_id: int = PAD_ID,
    media_id: int = MEDIA_ID,
    n_buckets: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Scale fill: cogroup payload + assignment on the pack bucket — ONE
    exchange of the token/ref payload. Bit-identical to
    interleaved_sequences (tested); n_buckets MUST equal the
    pack_sequences call's (mismatch raises, the
    materialize_sequences_grouped contract)."""
    import pandas as pd

    out_schema = T.StructType(_SEQ_FIELDS)
    gid = enc.select(
        _pack_bucket(id_col, n_buckets).alias("bucket"),
        id_col,
        "input_ids",
        "media_refs",
    ).groupBy("bucket")
    gasg = packed.select("bucket", id_col, "seq_id", "seq_pos").groupBy(
        "bucket"
    )

    def build(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(right):
            missing = set(right[id_col]) - set(left[id_col])
            if missing:
                raise ValueError(
                    f"{len(missing)} assignment row(s) have no encoded row "
                    f"in their bucket (e.g. {next(iter(missing))!r}) — "
                    f"n_buckets={n_buckets} does not match the "
                    "pack_sequences call that produced `packed`"
                )
        m = right.merge(
            left[[id_col, "input_ids", "media_refs"]], on=id_col, how="inner"
        )
        rows = []
        for seq_id, g in m.groupby("seq_id", sort=False):
            g = g.sort_values("seq_pos", kind="mergesort")
            flat: list[int] = []
            refs: list[str] = []
            for arr, rr in zip(g["input_ids"], g["media_refs"]):
                flat.extend(int(x) for x in arr)
                refs.extend(rr)
            n = len(flat)
            out = flat[:max_tokens]
            positions = [i for i, x in enumerate(out) if x == media_id]
            if len(out) < max_tokens:
                out.extend([pad_id] * (max_tokens - len(out)))
            rows.append(
                (
                    seq_id,
                    out,
                    refs[: len(positions)],
                    positions,
                    len(g),
                    n,
                    len(refs),
                    n > max_tokens,
                )
            )
        return pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return gid.cogroup(gasg).applyInPandas(build, out_schema)


def interleave_training(
    docs: DataFrame,
    merges=None,
    max_tokens: int = 2048,
    n_buckets: int = 64,
    sep: bool = True,
    pad_id: int = PAD_ID,
    media_id: int = MEDIA_ID,
    id_col: str = "doc_id",
    spans_col: str = "spans",
    stats: dict | None = None,
) -> DataFrame:
    """Interleaved spans -> multimodal training sequences in one call:
    encode_interleaved (sep appended BEFORE packing, budgets exact) ->
    pack_sequences on size(input_ids) -> the grouped fill. Same
    persist/stats contract as materialize_training (release with
    corpus.unpersist_stages(stats))."""
    from ocr_spark.operators.corpus_clean import pack_sequences

    enc = encode_interleaved(
        docs,
        merges=merges,
        media_id=media_id,
        sep=sep,
        id_col=id_col,
        spans_col=spans_col,
    )
    enc = enc.persist()
    if stats is not None:
        stats.setdefault("persisted", []).append(enc)
    counts = enc.select(id_col, F.size("input_ids").alias("_n"))
    packed = pack_sequences(
        counts,
        max_tokens=max_tokens,
        n_buckets=n_buckets,
        id_col=id_col,
        tokens_col="_n",
    )
    return interleaved_sequences_grouped(
        enc,
        packed,
        max_tokens,
        pad_id=pad_id,
        media_id=media_id,
        n_buckets=n_buckets,
        id_col=id_col,
    )
