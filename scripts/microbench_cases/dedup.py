"""Dedup-family cases: cluster resolution, benchmark decontamination,
incremental and one-shot near-dedup, duplicate spans, semantic pruning and
ANN top-k.

Corpora are synthesized natively in the plan (spark.range arithmetic,
xxhash64/md5 words — zero Python), so the cost measured is the operator's
join structure, not fixture generation.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import warnings

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

from ocr_spark.operators.corpus_clean import dup_span_removal, holdout_split
from ocr_spark.operators.dedup import (
    _clusters_star,
    contamination,
    contamination_bloom,
    near_dedup,
    simhash_chunk_keys,
    simhash_near_pairs,
)
from ocr_spark.operators.dedup_index import (
    incremental_dedup,
    read_dedup_index,
    write_dedup_index,
)
from ocr_spark.operators.semantic import kmeans_train, semantic_prune
from ocr_spark.operators.similarity import (
    cosine_topk,
    derived_n_planes,
    embedding_near_dups,
    hyperplanes,
    ivf_topk,
    ivfpq_topk,
    lsh_bucket_expr,
    pq_train_residual,
)

from . import phase


def _chain_pairs(spark, n_dup: int, group: int):
    """(id_a, id_b) chains inside consecutive groups of `group` ids."""
    return (
        spark.range(n_dup - 1)
        .where((F.col("id") + 1) % group != 0)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )


def _skip_pairs(spark, n_dup: int, group: int, skip: int):
    """Extra (i, i+skip) edges within each group (densifies, cuts diameter)."""
    return (
        spark.range(n_dup - skip)
        .where((F.col("id") % group) < (F.col("id") + skip) % group)
        .select(F.col("id").alias("id_a"), (F.col("id") + skip).alias("id_b"))
    )


def bench_clusters(spark, n: int) -> dict:
    """Cluster resolution: the distributed resolver of dedup_clusters
    (large-star/small-star, the path above the driver union-find's pair
    budget) over candidate-pair graphs of an n-doc corpus.

    The pair graph is synthesized natively with the shape real near-dup
    output has: a minority of docs (20%) sit in small duplicate groups; the
    rest never appear in any pair (and correctly never enter the cluster
    stage — only the near-dup SUBGRAPH is processed).

    Configs:
      * groups of 4, chain-wired  (diameter 3  — typical LSH cluster)
      * groups of 16, chain+skip  (diameter ~8)
      * groups of 64, chain-wired (adversarial diameter 63; star's rounds
        grow with log2 of the component size, not its diameter)

    Every run must converge and find exactly one cluster per group. When
    the group size does not divide the duplicate count, the trailing
    partial group is one more cluster if it holds 2 or more ids; a lone
    trailing id is in no pair, so it is no node."""
    n_dup = int(n * 0.2)
    configs = (
        ("groups4_chain", 4, False),
        ("groups16_chain_skip", 16, True),
        ("groups64_chain", 64, False),
    )
    fig: dict = {}
    for name, group, with_skip in configs:
        pairs = _chain_pairs(spark, n_dup, group)
        if with_skip:
            pairs = pairs.unionByName(_skip_pairs(spark, n_dup, group, 2))
        pairs = pairs.persist()
        n_pairs = pairs.count()
        tail = n_dup % group
        expected_clusters = n_dup // group + (tail >= 2)
        expected_nodes = n_dup - (tail == 1)
        stats: dict = {}
        rec: dict = {"n_pairs": n_pairs}
        with phase(rec, "resolve"):
            labels = _clusters_star(pairs, max_rounds=30, stats=stats)
            agg = labels.agg(
                F.count("*").alias("n_nodes"),
                F.countDistinct("rep").alias("n_clusters"),
                F.sum((F.col("id") != F.col("rep")).cast("long")).alias("n_dropped"),
            ).collect()[0]
        rec.update(
            n_nodes=int(agg["n_nodes"]),
            n_clusters=int(agg["n_clusters"]),
            n_dropped=int(agg["n_dropped"]),
            rounds=stats["rounds"],
            converged=stats["converged"],
        )
        assert rec["converged"], rec
        assert rec["n_clusters"] == expected_clusters, (rec, expected_clusters)
        assert rec["n_dropped"] == expected_nodes - expected_clusters
        fig[f"{name}_star"] = rec
        pairs.unpersist()
    return fig


def _contamination_docs(spark, n: int, words_per_doc: int = 48):
    """(doc_id, text): docs in the same 100-id block share the sequence."""
    word = lambda i: F.concat(
        F.lit("w"),
        F.pmod(F.xxhash64((F.col("id") / 100).cast("long"), i), F.lit(5000)).cast("string"),
    )
    text = F.concat_ws(
        " ", F.transform(F.sequence(F.lit(0), F.lit(words_per_doc - 1)), word)
    )
    return spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text"))


def bench_contamination(
    spark, n: int, methods=("exact",), split: str = "mod", eval_mod: int = 1000
) -> dict:
    """Benchmark-contamination sweep: the standard 13-gram decontamination
    pass over n synthetic docs vs an eval set carved out of them.

    Corpus text is synthesized natively: ~48 words per doc drawn so that
    docs inside the same 100-id block share their word sequence — the
    corpus genuinely contains eval-overlapping text, so the join produces
    real hits rather than an empty fast path. The corpus side excludes the
    eval ids (standard leave-out).

    split='mod': eval = id % eval_mod == 0 (every 100-id block overlaps ->
    prefilters can prune nothing). split='blocks': eval = even ids of every
    eval_mod-th block (eval is n/(2*eval_mod) docs but only 1/eval_mod of
    blocks overlap -> the realistic big-eval shape where a prefilter kills
    most corpus shingles map-side).

    methods: 'exact' = corpus → 8-byte 13-gram hashes (explode + distinct)
    → equi-join against the FORCE-BROADCAST eval hashes (the corpus never
    shuffles for the join) → one groupBy(doc_id); 'bloom' = broadcast
    bitmap prefilter + exact verify (the big-eval regime). Both must report
    identical hits."""
    docs = _contamination_docs(spark, n)
    if split == "mod":
        is_eval = F.col("doc_id") % eval_mod == 0
    else:
        is_eval = ((F.col("doc_id") / 100).cast("long") % eval_mod == 0) & (
            F.col("doc_id") % 2 == 0
        )
    eval_docs = docs.where(is_eval)
    corpus = docs.where(~is_eval)

    fig: dict = {"split": split, "eval_mod": eval_mod}
    hits = {}
    for method in methods:
        op = contamination if method == "exact" else contamination_bloom
        with phase(fig, method):
            agg = op(corpus, eval_docs, n=13).agg(
                F.count("*").alias("n_contaminated_docs"),
                F.sum("n_shared_shingles").alias("total_shared"),
                F.max("n_eval_docs").alias("max_eval_docs"),
            ).collect()[0]
        hits[method] = (int(agg["n_contaminated_docs"]), int(agg["total_shared"] or 0))
    assert len(set(hits.values())) == 1, hits
    fig["n_contaminated_docs"], fig["total_shared_shingles"] = hits[methods[0]]
    return fig


def _md5_corpus(spark, n: int, words: int):
    word = F.transform(
        F.sequence(F.lit(0), F.lit(words - 1)),
        lambda i: F.substring(F.md5(F.concat_ws("_", F.col("id"), i)), 1, 8),
    )
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.array_join(word, " ").alias("text")
    )


def _md5_batch(spark, n_corpus: int, n_batch: int, words: int):
    """Batch ids start at n_corpus. By position p = id % 10:
      p==0 → exact copy of corpus doc id        (exact-stage drop)
      p==1 → corpus doc id, word 0 → 'variantw' (near-corpus drop)
      p==2 → unique pair base                   (kept)
      p==3 → p==2 neighbor, word 0 → 'variantw' (near-batch drop)
      else → unique                             (kept)"""
    base = spark.range(n_batch).withColumn("p", F.col("id") % 10)
    key = (
        F.when(F.col("p") <= 1, F.col("id").cast("string"))
        .when(
            F.col("p").isin(2, 3),
            F.concat(F.lit("b"), (F.col("id") - (F.col("p") - 2)).cast("string")),
        )
        .otherwise(F.concat(F.lit("u"), F.col("id").cast("string")))
    )
    is_variant = F.col("p").isin(1, 3)
    word = F.transform(
        F.sequence(F.lit(0), F.lit(words - 1)),
        lambda i: F.when(is_variant & (i == F.lit(0)), F.lit("variantw")).otherwise(
            F.substring(F.md5(F.concat_ws("_", key, i)), 1, 8)
        ),
    )
    return base.select(
        (F.col("id") + n_corpus).alias("doc_id"),
        F.array_join(word, " ").alias("text"),
    )


def bench_dedup_index(spark, n: int) -> dict:
    """Incremental dedup: corpus index build + per-batch keep/drop vs
    re-running one-shot near_dedup over corpus ∪ batch (the cost the index
    exists to avoid).

    The corpus is n unique 24-word md5 docs (an already-deduped kept set,
    per the index contract); the batch is n/10 docs mixing exact copies of
    corpus docs (10%), 1-word near-variants of corpus docs (10%), in-batch
    near-dup pairs (20% → 10% dropped) and unique filler (60%).

    Correctness at scale is asserted two ways:
      * EXACT: the incremental kept set equals the batch slice of one-shot
        `near_dedup(corpus ∪ batch)` — both runs share the same
        deterministic md5 minhash family, so even band misses are identical
        (zero anti-join rows both directions).
      * closed-form with a small tolerance for LSH band misses: kept ≈
        0.7·n_batch."""
    words = 24
    n_batch = n // 10
    corpus = _md5_corpus(spark, n, words)
    batch = _md5_batch(spark, n, n_batch, words)
    fig: dict = {}
    tmp = tempfile.mkdtemp(prefix="dedup_index_bench_")
    path = os.path.join(tmp, "idx")
    try:
        with phase(fig, "build"):
            write_dedup_index(corpus, path, n_buckets=32)

        idx = read_dedup_index(spark, path)
        with phase(fig, "incremental"):
            kept = incremental_dedup(batch, idx, threshold=0.7).persist()
            n_kept = kept.count()

        # LSH band misses keep a few extra near-variants (measured miss rate
        # ~2e-3 per variant with the 2-hash K-M family — higher than the
        # independent-permutation 7.5e-5; the one-shot run misses the SAME
        # docs, which the set-equality assertion below proves)
        expect = n_batch - 3 * (n_batch // 10)
        assert expect <= n_kept <= expect + max(20, n_batch // 100), (
            n_kept,
            expect,
        )

        # the run the index replaces: one-shot over the union
        with phase(fig, "oneshot_union"):
            union_kept = near_dedup(
                corpus.unionByName(batch), method="minhash", threshold=0.7
            ).persist()
            n_union = union_kept.count()
        assert n_union == n + n_kept, (n_union, n + n_kept)

        # exact set equality on the batch slice (deterministic family ⇒
        # identical band misses): zero rows in both anti-joins
        batch_slice = union_kept.where(F.col("doc_id") >= n).select("doc_id")
        diff1 = kept.select("doc_id").exceptAll(batch_slice).count()
        diff2 = batch_slice.exceptAll(kept.select("doc_id")).count()
        kept.unpersist()
        union_kept.unpersist()
        assert diff1 == 0 and diff2 == 0, (diff1, diff2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    fig["kept"] = n_kept
    return fig


def bench_dupspan(spark, n: int) -> dict:
    """Exact-substring (duplicate 13-gram span) removal.

    Each doc is a 24-word BLOCK-SHARED prefix (all docs in the same 100-id
    block repeat it — the boilerplate the operator must remove) followed by
    a 24-word id-unique suffix (which must survive). So the expected
    outcome is ~half the corpus words removed, verifiable by construction.

    Shape under test: gram+position explode (codegen) -> ONE partial-agg
    shuffle of 8-byte gram keys -> broadcast dup set -> narrow
    covered-position re-agg -> left join back onto the row with the in-row
    indexed-lambda filter."""
    blk = (F.col("id") / 100).cast("long")
    w_shared = lambda i: F.concat(
        F.lit("s"), F.pmod(F.xxhash64(blk, i), F.lit(5000)).cast("string")
    )
    w_unique = lambda i: F.concat(
        F.lit("u"), F.pmod(F.xxhash64(F.col("id"), i), F.lit(50000)).cast("string")
    )
    text = F.concat_ws(
        " ",
        F.concat_ws(" ", F.transform(F.sequence(F.lit(0), F.lit(23)), w_shared)),
        F.concat_ws(" ", F.transform(F.sequence(F.lit(0), F.lit(23)), w_unique)),
    )
    docs = spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text"))

    agg = dup_span_removal(docs, n=13, min_count=2).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
        F.sum("n_removed").alias("removed"),
        F.sum((F.col("n_removed") > 0).cast("long")).alias("affected"),
    ).collect()[0]
    return {
        "affected_docs": int(agg["affected"]),
        "removed_fraction": round(agg["removed"] / agg["tokens"], 4),
    }


def _pair_count_from_buckets(keyed, *cols) -> int:
    """Exact candidate-pair count: Σ n·(n−1)/2 over bucket occupancies."""
    row = (
        keyed.groupBy(*cols)
        .agg(F.count("*").alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"))
        .collect()[0]
    )
    return int(row["pairs"] or 0)


def bench_neardup(spark, n: int) -> dict:
    """Near-dup candidate-pair growth: shows the two formerly scale-weak
    parameterizations are fixed.

      * simhash_near_pairs at the default max_hamming=3 (4 × 15-bit chunks,
        32k buckets/chunk) vs the wide max_hamming=6 radius (7 × 8-9-bit
        chunks)
      * embedding_near_dups with the corpus-derived plane count
        (derived_n_planes: N/2^p ≈ 64) vs a fixed 8 planes

    Signatures/embeddings are synthesized natively (xxhash64 over
    spark.range — no text pipeline) so the case isolates the pair stage,
    the part whose cost explodes quadratically when buckets are too
    coarse. Candidate counts are computed exactly from bucket occupancy
    (Σ n·(n−1)/2, without materializing the pairs), and the scale-safe
    variants also run the real verified pair stage (`join_s`; the
    embedding one also counts its output `pairs`)."""
    brute = n * (n - 1) // 2
    fig: dict = {"brute_pairs": brute}

    # simhash pigeonhole chunks: scale-safe vs wide radius
    sig = spark.range(n).select(
        F.col("id"), F.xxhash64("id").bitwiseAND(F.lit((1 << 60) - 1)).alias("simhash")
    )
    for max_hamming, run_join in ((3, True), (6, False)):
        rec: dict = {}
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            keyed = simhash_chunk_keys(sig, max_hamming=max_hamming)
            rec["candidate_pairs"] = _pair_count_from_buckets(keyed, "chunk", "cv")
            if run_join:
                with phase(rec, "join"):
                    simhash_near_pairs(
                        None, max_hamming=max_hamming, sig=sig
                    ).write.format("noop").mode("overwrite").save()
        fig[f"simhash_hamming{max_hamming}"] = rec

    # embedding sign-LSH: derived planes vs fixed 8
    comp = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (
            F.pmod(F.xxhash64(F.col("id"), i), F.lit(2_000_001)) - F.lit(1_000_000)
        )
        / F.lit(1_000_000.0),
    )
    emb = spark.range(n).select(F.col("id").alias("vec_id"), comp.alias("embedding"))
    for n_planes, run_join in ((derived_n_planes(n), True), (8, False)):
        rec = {}
        bucketed = emb.select(
            lsh_bucket_expr(F.col("embedding"), hyperplanes(n_planes)).alias("bucket")
        )
        rec["candidate_pairs"] = _pair_count_from_buckets(bucketed, "bucket")
        if run_join:
            obs = Observation(f"embedding_planes{n_planes}")
            with phase(rec, "join"):
                embedding_near_dups(emb, threshold=0.95, n_planes=n_planes).observe(
                    obs, F.count(F.lit(1)).alias("pairs")
                ).write.format("noop").mode("overwrite").save()
            rec["pairs"] = obs.get["pairs"]
        fig[f"embedding_planes{n_planes}"] = rec
    return fig


def bench_neardup_e2e(spark, n: int) -> dict:
    """END-TO-END near-dedup: the complete keep/drop pipeline over real text
    — shingle → SimHash signatures → pigeonhole candidate join → cluster
    resolution → left_anti keep — one number for the operator a
    training-data build actually calls (`near_dedup`).

    Every id with id % 20 < 4 shares its text with its 4-doc group
    (text_key = id - id % 20), the rest are unique — 20% of docs sit in
    groups of 4, so the exact expected outcome is drops = 3 per group = 15%
    of the corpus, pairs = 6 per group. Words are md5-derived 8-char tokens
    seeded by (text_key, word index), so distinct groups get
    ~independent 60-bit signatures (cross-group hamming ≈ 30, far above the
    max_hamming=3 radius — no false merges at any n)."""
    base = spark.range(n).withColumn(
        "text_key",
        F.when(F.col("id") % 20 < 4, F.col("id") - F.col("id") % 20).otherwise(F.col("id")),
    )
    word = F.transform(
        F.sequence(F.lit(0), F.lit(23)),
        lambda i: F.substring(F.md5(F.concat_ws("_", F.col("text_key"), i)), 1, 8),
    )
    docs = base.select(
        F.col("id").alias("doc_id"), F.array_join(word, " ").alias("text")
    ).persist()
    fig: dict = {}
    with phase(fig, "synth"):
        docs.count()

    expected_kept = n - 3 * (n // 20)
    stats: dict = {}
    with phase(fig, "dedup"):
        n_kept = near_dedup(docs, method="simhash", max_hamming=3, stats=stats).count()
    docs.unpersist()
    fig.update(
        n_kept=n_kept,
        cluster_algorithm=stats.get("algorithm"),
        cluster_rounds=stats.get("rounds"),
    )
    assert n_kept == expected_kept, (fig, expected_kept)
    return fig


def _u(seed_cols):
    """md5-derived uniform in [-1, 1] (8 hex chars -> 32-bit -> scale)."""
    h = F.conv(F.substring(F.md5(F.concat_ws("_", *seed_cols)), 1, 8), 16, 10)
    return (h.cast("double") / F.lit(float(2**32))) * 2.0 - 1.0


def _mode_embeddings(spark, n: int, dim: int, n_modes: int):
    """(vec_id, embedding) with planted (10j, 10j+1) near-dup pairs."""
    base_id = F.col("id") - (F.col("id") % 10 == 1).cast("long")
    mode = (base_id % n_modes).cast("string")
    is_dup = F.col("id") % 10 == 1
    comp = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.round(
            _u([F.lit("m"), mode, i])
            + 0.3 * _u([F.lit("j"), base_id.cast("string"), i])
            + F.when(
                is_dup, 1e-4 * _u([F.lit("d"), F.col("id").cast("string"), i])
            ).otherwise(0.0),
            6,
        ),
    )
    return spark.range(n).select(F.col("id").alias("vec_id"), comp.alias("embedding"))


def bench_semantic(spark, n: int) -> dict:
    """Semantic prune: spherical k-means training + SemDeDup-style pruning
    + leakage-safe holdout split, with exactness asserted at scale.

    n docs in n/100 well-separated direction modes (base direction from
    md5(mode, dim), per-doc jitter 0.3 from md5(doc, dim)), and every
    (10j, 10j+1) pair planted as a near-duplicate (member 10j+1 = member
    10j's vector + 1e-4 noise, cosine >= 0.999999 within the pair while
    same-mode non-pairs sit near 0.92 — a four-nines margin to the
    eps=0.999 threshold).

    Exactness asserted:
      * pruned count == planted pairs minus the pairs k-means split across
        clusters, measured from the output (one member of every co-clustered
        pair, no false positives), and those straddles stay marginal;
      * within every co-clustered planted pair exactly one member survives;
      * holdout_split over the prune cliques: ZERO cliques straddle the
        train/eval boundary (the leakage property at scale)."""
    dim = 64
    k = max(2, n // 100)  # n_modes; cluster size ~100
    emb = _mode_embeddings(spark, n, dim, k).persist()
    emb.count()

    fig: dict = {"k": k}
    st_km: dict = {}
    with phase(fig, "train"):
        C = kmeans_train(emb, k=k, iters=2, stats=st_km)

    st_pr: dict = {}
    with phase(fig, "prune"):
        pruned = semantic_prune(emb, C, eps=0.999, stats=st_pr).persist()
        n_pruned = pruned.where(~F.col("is_kept")).count()

    # closed-form exactness: SemDeDup by construction misses a pair whose
    # members straddle a cluster boundary (k-means can place two centroids
    # near one mode; the paper's documented recall trade) — so measure the
    # straddle count FROM THE OUTPUT and assert pruned == planted-straddled
    # EXACTLY, plus exactly-one-survivor inside every co-clustered pair.
    n_pairs_planted = n // 10
    a = pruned.where(F.col("id") % 10 == 0).select(
        F.col("id").alias("pa"),
        F.col("is_kept").alias("ka"),
        F.col("ivf_list").alias("la"),
    )
    b = pruned.where(F.col("id") % 10 == 1).select(
        (F.col("id") - 1).alias("pa"),
        F.col("is_kept").alias("kb"),
        F.col("ivf_list").alias("lb"),
    )
    jp = a.join(b, "pa").persist()
    n_straddled = jp.where(F.col("la") != F.col("lb")).count()
    bad = (
        jp.where(F.col("la") == F.col("lb"))
        .where(F.col("ka").cast("int") + F.col("kb").cast("int") != 1)
        .count()
    )
    jp.unpersist()
    assert bad == 0, bad
    assert n_pruned == n_pairs_planted - n_straddled, (
        n_pruned,
        n_pairs_planted,
        n_straddled,
    )
    # the trade must stay marginal: straddles are boundary accidents
    assert n_straddled <= max(5, n_pairs_planted // 1000), n_straddled

    # leakage-safe split routed by the prune cliques
    with phase(fig, "split"):
        docs = emb.select(F.col("vec_id").alias("doc_id"))
        cliques = pruned.where(F.col("rep").isNotNull()).select("id", "rep")
        split = holdout_split(docs, cliques, eval_ppm=100_000).persist()
        n_eval = split.where(F.col("split") == "eval").count()
    # the leakage property: every clique lands on ONE side (straddled pairs
    # are not in the clique map — exactly the docs the dedup didn't detect)
    leaks = (
        split.join(cliques.withColumnRenamed("id", "doc_id"), "doc_id")
        .groupBy("rep")
        .agg(F.count_distinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .count()
    )
    split.unpersist()
    pruned.unpersist()
    emb.unpersist()
    assert leaks == 0, leaks

    fig.update(
        kmeans_iters=st_km.get("iters_run"),
        pruned=n_pruned,
        pairs_straddled=n_straddled,
        eval_docs=n_eval,
        cluster_rounds=st_pr.get("rounds"),
        cluster_algorithm=st_pr.get("algorithm"),
    )
    return fig


ANN_DIM = 64
ANN_K = 10
ANN_NPROBE = 4
ANN_CENTROIDS = 16


def bench_ann(spark, n: int) -> dict:
    """ANN top-k: exact cosine vs IVF vs IVF-PQ over n synthetic 64-dim
    vectors (native xxhash synthesis — zero Python in the corpus build).

    Shape under test: all three are single-scan, shuffle-free plans ending
    in a TakeOrdered tree-reduce; IVF prunes WORK (scores only probed
    lists), IVF-PQ additionally prunes MEMORY (8 uint8 codes replace 64
    floats at ADC time — at 100 TB of embeddings that is the difference
    between an index that fits executor memory and one that doesn't).
    Codebooks train driver-side on a bounded corpus sample (one .limit()
    job), like a real offline index build. Each plan runs once to warm
    Python workers, JIT and shuffle files before its timed run."""
    v = F.transform(
        F.sequence(F.lit(0), F.lit(ANN_DIM - 1)),
        lambda j: (F.pmod(F.xxhash64(F.col("id"), j), F.lit(2001)) - 1000).cast("double")
        / 1000.0,
    )
    base = spark.range(n).select(F.col("id").alias("vec_id"), v.alias("embedding"))

    sample = np.array([r.embedding for r in base.limit(ANN_CENTROIDS * 256 + 1).collect()])
    qv_np = sample[0]
    qv = [float(x) for x in qv_np]
    centroids = sample[1 : ANN_CENTROIDS + 1].round(6)
    books = pq_train_residual(sample, centroids, m_sub=8, n_codes=16)

    # plant k-1 separable near-neighbors of the query (uniform noise has
    # only near-tie neighbors, which makes recall@k meaningless)
    rs = np.random.RandomState(9)
    planted = [
        (int(n + i), [float(x) for x in (qv_np + 0.05 * rs.randn(ANN_DIM)).round(6)])
        for i in range(ANN_K - 1)
    ]
    emb = base.unionByName(
        spark.createDataFrame(planted, "vec_id long, embedding array<double>")
    )

    fig: dict = {}

    def timed(name, fn):
        fn().collect()
        with phase(fig, name):
            return {r[0] for r in fn().collect()}

    exact = timed("exact", lambda: cosine_topk(emb, qv, k=ANN_K))
    ivf = timed("ivf", lambda: ivf_topk(emb, qv, centroids, k=ANN_K, nprobe=ANN_NPROBE))
    pq = timed(
        "ivfpq",
        lambda: ivfpq_topk(emb, qv, centroids, books, k=ANN_K, nprobe=ANN_NPROBE),
    )
    fig["ivf_recall_vs_exact"] = round(len(ivf & exact) / ANN_K, 2)
    fig["ivfpq_recall_vs_exact"] = round(len(pq & exact) / ANN_K, 2)
    return fig
