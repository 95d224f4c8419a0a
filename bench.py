"""Per-round benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Headline = the flagship span-extraction pipeline over the deterministic
synthetic interleaved corpus (sized to the sf), plus the heavier operator
queries from __spark_entry__ over the driver tables. All timed executions
force full computation via the `noop` sink (no output-write cost, no
collect-to-driver bottleneck).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# docs per unit scale-factor for the synthetic interleaved corpus;
# at sf0.1 → 5000 docs (~5% media-heavy with 256-1024 media spans each)
DOCS_PER_SF = 50_000

# Round-5 note: queries() was consolidated to 50 rows (driver CORRECTNESS
# cap), so several r4 bench names map to merged supersets — round-over-round
# totals must compare per-query where the name survived, and treat renames
# as supersets (they do strictly more work):
#   dedup_exact → fingerprint (adds the per-doc fp column)
#   quality_score + quality_repetition → quality_scores (one row, both)
#   token_counts (now also carries the real-BPE column of token_counts_bpe)
#   cosine_topk / ivf_topk → ann_recall (runs exact+lsh+ivf on one scan)
#   corpus_pipeline → corpus_pipeline_full (the full chain remains)
BENCH_ENTRY_QUERIES = [
    "process_output",
    "extract_text",
    "fulltext_assembly",
    "span_reassembly",
    "join_broadcast",
    "exceptall_diff",
    "window_order",
    "confidence_mean",
    # training-data ops (task directive): dedup family + similarity + analysis
    "fingerprint",
    "jaccard_pairs",
    "minhash_lsh",
    "simhash_pairs",
    "ann_recall",
    "token_counts",
    "quality_scores",
    "dedup_clusters",
    # round-4 additions (same shared-subset comparison rule)
    "decon_bloom",
    "dup_span_removal",
    "ivfpq_topk",
    "corpus_pipeline_full",
    # round-5 additions: text→embedding bridge semantic dedup, trigram
    # Stupid-Backoff LM perplexity (supersedes r4's unigram_logprob row)
    "text_embed_dedup",
    "ngram_perplexity",
]


def _force(df) -> int:
    """Force full computation without sink or driver-collect cost."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _corpus_path(n_docs: int) -> str:
    cache_dir = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/ocr_spark_bench")
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"docs_spans_{n_docs}.parquet")
    if not os.path.exists(path):
        from ocr_spark.fixtures import write_docs_parquet

        write_docs_parquet(path, n_docs)
    return path


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    n_docs = max(200, int(DOCS_PER_SF * sf))

    import __spark_entry__ as E
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.session import get_spark

    corpus = _corpus_path(n_docs)

    spark = get_spark("ocr_spark_bench", cpus=cpus)
    timings: dict[str, float] = {}

    # warm the JVM + Python workers (worker fork, numpy import, first-touch
    # page faults) so the timed run measures steady-state throughput — a
    # production job amortizes this startup over hours of input
    docs = spark.read.parquet(corpus)
    _force(extract_documents(docs, rules=E.RULES, salt_partitions=cpus * 4))

    # --- headline: flagship extraction over the interleaved corpus ---------
    extract_sec = float("inf")
    for _ in range(2):  # best-of-2 (see query-loop note on host load swings)
        t0 = time.perf_counter()
        _force(extract_documents(docs, rules=E.RULES, salt_partitions=cpus * 4))
        extract_sec = min(extract_sec, time.perf_counter() - t0)
    timings["extract"] = round(extract_sec, 3)

    # --- operator queries over the driver tables ---------------------------
    # best-of-2: the sandbox host shows multi-x background-load swings
    # (measured 5.8s..44s for the same query); one retry isolates the engine.
    # Caches a query left behind (corpus_pipeline_full's stage caches have
    # no handle) are cleared after each run, so the retry starts cold too.
    qs = E.queries()
    for name in BENCH_ENTRY_QUERIES:
        fn = qs[name]
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "extraction_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_docs": n_docs,
        "docs_per_sec": round(n_docs / extract_sec, 1),
        "cpus": cpus,
    }
    _append_history(result)
    print(json.dumps(result))


def _append_history(result: dict) -> None:
    """Persist per-run, per-query timings to BENCH/history.jsonl so
    round-over-round regression checks are mechanical (diffable history,
    independent of the driver's BENCH_r{N}.json snapshots)."""
    from scripts.microbench import git_commit

    entry = dict(result)
    entry["ts"] = int(time.time())
    entry["commit"] = git_commit(short=True)
    try:
        bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
        os.makedirs(bench_dir, exist_ok=True)
        with open(os.path.join(bench_dir, "history.jsonl"), "a") as f:
            f.write(json.dumps(entry) + "\n")
    except OSError:
        pass  # history is best-effort; the printed line is the contract


if __name__ == "__main__":
    main()
