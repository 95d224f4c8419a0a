"""Training-data cases: BPE tokenizer training, DSIR resampling, the
trigram LM, interleaved multimodal sequences and training-shard
materialization.

The text corpora are closed template families built natively in the plan,
so word counts, gram counts and token totals have exact closed forms.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ocr_spark.functions.bpe import (
    SEP_ID,
    bpe_train_from_counts,
    corpus_word_counts,
    encode_token_ids,
    load_merges,
    token_counts_bpe,
)
from ocr_spark.operators.corpus_clean import pack_sequences
from ocr_spark.operators.dsir import dsir_fit, dsir_resample, dsir_weights
from ocr_spark.operators.interleaved import (
    MEDIA_ID,
    encode_interleaved,
    interleaved_sequences_grouped,
)
from ocr_spark.operators.ngram_lm import ngram_perplexity, train_ngram_lm
from ocr_spark.operators.training_data import (
    materialize_sequences_grouped,
    read_shard_manifest,
    write_training_shards,
)

from . import phase


def spell(num_col):
    """Digits spelled as letters: the tokenizers' word pattern is [a-z']+."""
    return F.translate(num_col.cast("string"), "0123456789", "abcdefghij")


def template_docs(spark, n: int):
    """(doc_id, text), persisted and counted. 90% of docs: 40 tokens cycling
    a 500-word template vocabulary with a doc-dependent phase (rich shared
    n-gram structure); 10% (id % 10 == 0): 40 globally-unique junk tokens.
    The template vocabulary is the closed-form set
    {(3p + 2i) mod 500 : p<37, 1<=i<=40}; every doc has exactly 40 tokens."""
    words = lambda fn: F.concat_ws(" ", F.transform(F.sequence(F.lit(1), F.lit(40)), fn))
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 10 != 0,
            words(
                lambda i: F.concat(
                    F.lit("w"), spell(((F.col("id") % 37) * 3 + i * 2).cast("int").__mod__(500))
                )
            ),
        )
        .otherwise(words(lambda i: F.concat(F.lit("j"), spell(F.col("id") * 40 + i))))
        .alias("text"),
    ).persist()
    docs.count()
    return docs


def bench_bpe_train(spark, n: int, merges: int = 256) -> dict:
    """Distributed BPE tokenizer training (functions/bpe.py):
    corpus_word_counts over the template corpus (the distributed stage),
    bpe_train_from_counts over the resulting 50k-word table (the driver
    loop), then the learned merges through token_counts_bpe over the same
    corpus — the full train-tokenizer -> count chain a corpus build runs.

    Exactness: the word-count table has a known shape — the template
    vocabulary is the closed-form set of `template_docs` and its counts sum
    to exactly 40 tokens per template doc (36,000,000 at n=1M)."""
    # all 37 phases appear among non-multiple-of-10 ids for any n >= ~400
    assert n >= 1000, "closed-form assertions assume n >= 1000"
    docs = template_docs(spark, n)
    fig: dict = {"merges": merges}

    with phase(fig, "word_counts"):
        counts = corpus_word_counts(docs, top_words=50_000)
    tpl = {w: c for w, c in counts.items() if w.startswith("w")}
    n_tpl_docs = n - (n + 9) // 10
    expected_vocab = {
        (3 * p + 2 * i) % 500 for p in range(37) for i in range(1, 41)
    }
    assert len(tpl) == len(expected_vocab), (len(tpl), len(expected_vocab))
    assert sum(tpl.values()) == 40 * n_tpl_docs, sum(tpl.values())
    fig["vocab"] = len(counts)

    with phase(fig, "merge_loop"):
        learned = bpe_train_from_counts(counts, n_merges=merges)
    assert len(learned) == merges, len(learned)

    with phase(fig, "tokenize"):
        agg = token_counts_bpe(docs, merges=learned).agg(
            F.count("*").alias("rows"), F.sum("n_tokens_bpe").alias("tok")
        ).first()
    docs.unpersist()
    assert agg["rows"] == n, agg["rows"]
    assert agg["tok"] > 0
    fig["total_tokens"] = agg["tok"]
    return fig


def bench_dsir(spark, n: int) -> dict:
    """DSIR importance resampling (operators/dsir.py): fit the
    hashed-n-gram log-ratio model on a 10k-doc target sample + the full raw
    corpus, score every raw doc, Gumbel-top-k resample 10% — the
    data-selection chain a pretraining build runs over a crawl.

    Exactness: the corpus is a closed template family — 30% of raw docs
    (id % 10 < 3) draw 30 words from the 50-word target vocabulary by an
    (id, position) formula, 70% draw 30 words from a disjoint 5000-word junk
    vocabulary — so per-doc gram counts are exactly 59 (30 unigrams + 29
    bigrams), the total gram count is 59·n, and the resampled set has a
    known planted composition: the importance-weight separation (~59 grams
    × several nats) dwarfs the Gumbel noise (≤ ~37 micro-million), so ≥ 99%
    of the selected docs must be target-like."""
    target_docs = 10_000

    def words(prefix, formula):
        return F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(30)),
                lambda i: F.concat(F.lit(prefix), spell(formula(i))),
            ),
        )

    def tgt_formula(i):
        return ((F.col("id") % 41) * 7 + i * 3).cast("int").__mod__(50)

    def junk_formula(i):
        return ((F.col("id") % 997) * 31 + i * 11).cast("int").__mod__(5000)

    raw = (
        spark.range(n)
        .select(
            F.concat(
                F.when(F.col("id") % 10 < 3, F.lit("g")).otherwise(F.lit("j")),
                F.col("id").cast("string"),
            ).alias("doc_id"),
            F.when(F.col("id") % 10 < 3, words("t", tgt_formula))
            .otherwise(words("x", junk_formula))
            .alias("text"),
        )
        .persist()
    )
    raw.count()
    target = spark.range(target_docs).select(
        F.concat(F.lit("T"), F.col("id").cast("string")).alias("doc_id"),
        words("t", tgt_formula).alias("text"),
    )

    fig: dict = {}
    with phase(fig, "fit"):
        model = dsir_fit(target, raw, dim=8192)
    assert model["r_total"] == 59 * n, model["r_total"]  # closed form
    assert model["t_total"] == 59 * target_docs, model["t_total"]
    fig["buckets"] = len(model["buckets"])

    with phase(fig, "weights"):
        wt = dsir_weights(raw, model).persist()
        agg = wt.agg(
            F.count("*").alias("rows"),
            F.sum("n_grams").alias("grams"),
            F.sum(F.when(F.col("lr_micro").isNull(), 1).otherwise(0)).alias("gramless"),
        ).first()
    assert agg["rows"] == n, agg["rows"]
    assert agg["grams"] == 59 * n, agg["grams"]  # 30 uni + 29 bi per doc
    assert agg["gramless"] == 0

    k = round(n * 0.1)
    with phase(fig, "resample"):
        picked = dsir_resample(wt, k=k, seed="bench").select("doc_id")
        n_good = picked.where(F.col("doc_id").startswith("g")).count()
    wt.unpersist()
    raw.unpersist()
    frac = n_good / k
    assert frac >= 0.99, f"enrichment {frac:.4f} < 0.99 (n_good={n_good}, k={k})"
    fig["target_like_frac"] = round(frac, 5)
    return fig


INTERLEAVED_MERGES = [("h", "e"), ("l", "l"), ("he", "ll"), ("hell", "o")]


def bench_interleaved(spark, n: int) -> dict:
    """Interleaved multimodal materialization (operators/interleaved.py):
    encode a corpus of interleaved text+media spans (3 text spans x 4 words
    + 2 media spans per doc), pack to 64-token budgets over 256 buckets, and
    fill sequences with the grouped (one-exchange) materializer.

    Exactness: the template makes every count closed-form — per-doc ids are
    exactly 15 tokens (12 word + 2 sentinel + 1 sep), so encode totals are
    15·n ids / 2·n sentinels, nothing truncates at budget 64, every
    sentinel's ref survives with its position pointing at a sentinel, and
    per-sequence token sums conserve exactly."""
    max_tokens, n_buckets = 64, 256
    i = F.col("id").cast("string")

    def text_span(off):
        return F.struct(
            F.lit("text").alias("kind"),
            F.lit("hello hello hello hello").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    def media_span(off, k):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            F.concat(F.lit("img://"), i, F.lit(f"/{k}")).alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    docs = spark.range(n).select(
        i.alias("doc_id"),
        F.array(
            text_span(0), media_span(10, 0), text_span(20), media_span(30, 1), text_span(40)
        ).alias("spans"),
    ).persist()
    docs.count()

    per_doc = 15  # 3 spans x 4 'hello' tokens + 2 sentinels + 1 sep
    fig: dict = {}
    with phase(fig, "encode"):
        enc = encode_interleaved(docs, merges=INTERLEAVED_MERGES).persist()
        agg = enc.agg(
            F.count("*").alias("rows"),
            F.sum(F.size("input_ids")).alias("ids"),
            F.sum("n_media").alias("media"),
        ).first()
    assert agg["rows"] == n
    assert agg["ids"] == per_doc * n, agg["ids"]
    assert agg["media"] == 2 * n, agg["media"]

    with phase(fig, "pack"):
        counts = enc.select("doc_id", F.size("input_ids").alias("_n"))
        packed = pack_sequences(
            counts, max_tokens=max_tokens, n_buckets=n_buckets, tokens_col="_n"
        ).persist()
        n_seqs = packed.select("seq_id").distinct().count()
    fig["n_seqs"] = n_seqs

    with phase(fig, "fill"):
        seqs = interleaved_sequences_grouped(enc, packed, max_tokens, n_buckets=n_buckets)
        sagg = seqs.agg(
            F.count("*").alias("rows"),
            F.sum("n_docs").alias("docs"),
            F.sum("n_tokens").alias("toks"),
            F.sum(F.size("media_refs")).alias("kept"),
            F.sum("n_media_total").alias("media"),
            F.sum(F.when(F.col("truncated"), 1).otherwise(0)).alias("trunc"),
            F.sum(
                F.when(
                    F.size(
                        F.filter(
                            F.zip_with(
                                "media_positions",
                                F.transform(
                                    "media_positions",
                                    lambda p: F.element_at(F.col("input_ids"), p + 1),
                                ),
                                lambda p, v: v == F.lit(MEDIA_ID),
                            ),
                            lambda ok: ~ok,
                        )
                    )
                    > 0,
                    1,
                ).otherwise(0)
            ).alias("misaligned"),
        ).first()
    enc.unpersist()
    packed.unpersist()
    docs.unpersist()
    assert sagg["rows"] == n_seqs
    assert sagg["docs"] == n
    assert sagg["toks"] == per_doc * n, sagg["toks"]
    assert sagg["media"] == 2 * n and sagg["kept"] == 2 * n
    assert sagg["trunc"] == 0 and sagg["misaligned"] == 0
    return fig


def bench_materialize(spark, n: int) -> dict:
    """Training-sequence materialization (operators/training_data.py):
    encode_token_ids -> pack_sequences -> materialize_sequences_grouped ->
    write_training_shards (64 shards of 2048-token sequences) over the
    template corpus.

    Exactness:
    - every doc lands in exactly one sequence (sum n_docs == n);
    - token conservation: sum(seq n_tokens) == sum(size(doc input_ids));
    - every materialized array is exactly max_tokens long;
    - shard manifest totals equal the sequence-level aggregates."""
    max_tokens, n_shards = 2048, 64
    docs = template_docs(spark, n)
    fig: dict = {}

    # stage 1: encode (the Arrow stage, no shuffle)
    with phase(fig, "encode"):
        ids = encode_token_ids(docs, merges=load_merges(), sep_id=SEP_ID).persist()
        tok = ids.agg(
            F.count("*").alias("rows"),
            F.sum(F.size("input_ids")).alias("total"),
        ).first()
    assert tok["rows"] == n
    total_tokens = int(tok["total"])
    fig["total_tokens"] = total_tokens

    # stage 2+3: pack + grouped materialize + verify aggregate
    with phase(fig, "materialize"):
        counts = ids.select("doc_id", F.size("input_ids").alias("_n"))
        packed = pack_sequences(counts, max_tokens=max_tokens, n_buckets=64, tokens_col="_n")
        seqs = materialize_sequences_grouped(ids, packed, max_tokens, n_buckets=64).persist()
        agg = seqs.agg(
            F.count("*").alias("n_seqs"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min(F.size("input_ids")).alias("min_len"),
            F.max(F.size("input_ids")).alias("max_len"),
            F.sum(F.col("truncated").cast("long")).alias("n_trunc"),
        ).first()
    assert agg["n_docs"] == n, agg["n_docs"]
    assert agg["n_tokens"] == total_tokens, (agg["n_tokens"], total_tokens)
    assert agg["min_len"] == agg["max_len"] == max_tokens
    assert agg["n_trunc"] == 0  # 40-token docs never exceed the budget
    fig["n_seqs"] = agg["n_seqs"]
    fig["mean_fill"] = round(total_tokens / (agg["n_seqs"] * max_tokens), 4)
    # the id payload is consumed once seqs is materialized — release it
    # before the write stage claims heap for its per-shard parquet buffers
    # (at 10M docs the cache is ~6 GB; run with SPARK_DRIVER_MEM sized for
    # the seqs cache + n_shards row-group buffers)
    ids.unpersist()

    # stage 4: deterministic shard write + manifest check
    tmp = tempfile.mkdtemp(prefix="train_shards_bench_")
    out = os.path.join(tmp, "shards")
    try:
        with phase(fig, "shard_write"):
            write_training_shards(seqs, out, n_shards=n_shards, seed=0)
        man = read_shard_manifest(spark, out).agg(
            F.sum("n_seqs").alias("s"), F.sum("n_tokens").alias("t")
        ).first()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    seqs.unpersist()
    docs.unpersist()
    assert man["s"] == agg["n_seqs"] and man["t"] == total_tokens
    return fig


def bench_ngram_lm(spark, n: int) -> dict:
    """Trigram Stupid-Backoff LM (ngram_lm.py): train + persist on the
    template corpus, then score the corpus against the cached model — the
    explicit-lm path that a 100 TB build uses (train once on a trusted
    corpus, score every crawl shard).

    Exactness: in-template docs must score strictly higher (less
    surprising) than junk docs on average, every doc with tokens must emit
    exactly one row, and the token total is 40 per doc."""
    docs = template_docs(spark, n)
    fig: dict = {}
    with phase(fig, "train"):
        lm = train_ngram_lm(
            docs,
            top_unigrams=50_000,
            top_bigrams=500_000,
            top_trigrams=500_000,
            min_count=2,
        ).persist()
        # materialize all four tables (training wall = counts + prune + cache)
        fig.update(uni=lm.uni.count(), bi=lm.bi.count(), tri=lm.tri.count())
        tot = lm.totals.first()
    assert tot["t_total"] == 40 * n, tot["t_total"]  # exact token total

    with phase(fig, "score"):
        scored = ngram_perplexity(docs, lm=lm).persist()
        agg = scored.agg(
            F.count("*").alias("rows"),
            F.sum("n_tokens").alias("tok"),
        ).first()
    assert agg["rows"] == n, agg["rows"]  # every doc has tokens -> one row
    assert agg["tok"] == 40 * n, agg["tok"]

    # separation: template docs must average strictly higher logprob
    sep = (
        scored.withColumn("is_tpl", F.col("doc_id") % 10 != 0)
        .groupBy("is_tpl")
        .agg(F.avg("avg_lp_micronat").alias("m"))
    )
    means = {r["is_tpl"]: r["m"] for r in sep.collect()}
    scored.unpersist()
    lm.unpersist()
    docs.unpersist()
    assert means[True] > means[False] + 1_000_000, means  # >1 nat apart
    fig["separation_nats"] = round((means[True] - means[False]) / 1e6, 2)
    return fig
