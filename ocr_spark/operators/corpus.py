"""End-to-end training-corpus hygiene pipeline: the composition a web-scale
training-data build actually executes, as ONE DataFrame chain.

    quality filter  ->  near-dedup keep  ->  decontamination  ->  PII scrub

Stage order follows published web-pipeline practice (C4 / Gopher / RefinedWeb:
filter first so every later stage touches fewer docs; dedup before
decontamination so the eval-overlap join runs on the surviving set; scrub
last so dropped docs never pay the regex chain). Reference anchor: the
single-cleaned-result-per-document contract of the reference's engine
interface (ocr_engine_interface.py:56-73) generalized from one document to a
corpus.

Scale shape at 100 TB:
  * quality filter — pure codegen'd expressions over the scan (no UDF, no
    shuffle); Catalyst pushes the column prune to the parquet reader.
  * near-dedup — only the candidate SUBGRAPH (pairs from LSH banding /
    simhash pigeonhole buckets) enters the cluster stage; the corpus is
    touched by exactly one left_anti equi-join on the id (AQE broadcasts
    the drop set when small).
  * decontamination — the eval side is force-broadcast
    (dedup.contamination), so the corpus never shuffles for the join.
  * PII scrub — a regexp_replace chain inside whole-stage codegen.
The full pipeline therefore costs: corpus scans + two left_anti joins +
the subgraph work — no corpus-wide shuffle anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_spark.operators.dedup import near_dedup
from ocr_spark.operators.text_analysis import (
    pii_scrub,
    quality_repetition_select,
    quality_score,
)


def corpus_pipeline(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    *,
    min_quality: float = 0.45,
    quality: str = "v1",
    dedup_method: str = "simhash",
    contamination_n: int = 8,
    max_shared_shingles: int = 0,
    dup_span_n: int | None = None,
    dup_span_min_count: int = 2,
    scrub: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats: dict | None = None,
    **dedup_kw,
) -> DataFrame:
    """Clean `docs` for training: drop low-quality docs, keep one
    representative per near-dup cluster, optionally remove duplicated
    verbatim word n-gram SPANS from the survivors (dup_span_n — the Lee et
    al. exact-substring pass, run after doc-level dedup so cluster
    representatives don't count each other's text as duplicated), drop docs
    overlapping `eval_docs` by more than `max_shared_shingles` word
    n-grams, scrub PII from the survivors' text. Returns the docs frame
    (same columns, text rewritten by the span/scrub stages).

    quality='v1' filters on the ratio-heuristic score (alpha/stopword/punct
    blend); 'v2' on the Gopher-style composite that also penalizes
    duplicate lines, top-bigram dominance and character runs — the signal
    real web filtering needs against boilerplate/spam (v1 is a pure
    codegen'd predicate at the scan; v2 rides the staged array projections
    of quality_repetition_select — one extra projection chain, no shuffle).

    `stats` (optional dict) receives the cluster stage's rounds, convergence
    and resolved algorithm ('driver' or 'star', chosen by dedup_clusters
    from the pair count). `dedup_kw` forwards to the chosen pair
    generator (e.g. max_hamming= for simhash, threshold= for minhash).
    """
    if quality not in ("v1", "v2"):
        raise ValueError(f"quality={quality!r}: expected 'v1' or 'v2'")
    if quality == "v1":
        filtered = docs.where(quality_score(F.col(text_col)) >= F.lit(min_quality))
    else:
        # v2 rides the staged projections: one expression composing the
        # repetition signals would inline the split/gram array subtrees
        # dozens of times and fall out of codegen into interpreted eval —
        # measured minutes vs seconds on a few hundred docs (see
        # quality_repetition_select). A plain .where(quality_v2 >= x) on the
        # staged frame would undo the staging too:
        # PushPredicateThroughNonJoin substitutes aliases through
        # deterministic Projects unconditionally, re-inlining the whole
        # tree into one interpreted Filter. The rand() column is a pushdown
        # barrier — a non-deterministic projection blocks the rule, and
        # referencing it inside the single (non-splittable) comparison
        # keeps ColumnPruning from stripping the barrier and re-enabling it.
        staged = quality_repetition_select(
            docs, F.col(text_col), id_cols=tuple(docs.columns)
        ).withColumn("_nd", F.rand(7))
        keep = (
            F.when(F.col("_nd") > F.lit(-1.0), F.col("quality_v2"))
            .otherwise(F.lit(None))
            >= F.lit(min_quality)
        )
        filtered = staged.where(keep).select(*docs.columns)
    # Stage boundaries are consumed MULTIPLE times downstream: near_dedup
    # reads the filtered frame for pair generation AND the keep anti-join;
    # decontamination and the output both read the last text-rewriting
    # stage (the dup-span output when it runs, else the near-dedup output).
    # Without persistence every consumer re-runs the whole upstream chain —
    # the v2 quality scan alone re-executed 5+ times (measured 28 s -> much
    # less at sf0.1), so both frames are always persisted. The near-dedup
    # output under dup-span needs no cache: it is one broadcast anti-join
    # against materialized cluster labels away from the cached filtered
    # frame. The handles are exposed through stats['persisted'] so
    # long-lived sessions can release them deterministically after
    # materializing the output (unpersist_stages) instead of leaning on
    # Spark's LRU eviction.
    persisted: list[DataFrame] = []
    if stats is not None:
        stats.setdefault("persisted", persisted)
        persisted = stats["persisted"]
    filtered = filtered.persist()
    persisted.append(filtered)
    kept = near_dedup(
        filtered,
        method=dedup_method,
        id_col=id_col,
        text_col=text_col,
        stats=stats,
        **dedup_kw,
    )
    if dup_span_n is not None:
        from ocr_spark.operators.corpus_clean import _dup_span_rewrite

        kept = _dup_span_rewrite(
            kept, dup_span_n, dup_span_min_count, id_col, text_col,
            counters=False,
        ).select(*docs.columns)
    kept = kept.persist()
    persisted.append(kept)
    if eval_docs is not None:
        from ocr_spark.operators.dedup import contamination

        cont = contamination(
            kept, eval_docs, n=contamination_n, id_col=id_col, text_col=text_col
        )
        bad = cont.where(
            F.col("n_shared_shingles") > F.lit(max_shared_shingles)
        ).select(id_col)
        # The hit set is bounded by the (small) eval-corpus overlap; without
        # the hint the post-aggregation side plans as SortMergeJoin and the
        # CORPUS pays a shuffle-map write even when AQE later converts it.
        kept = kept.join(F.broadcast(bad), id_col, "left_anti")
    if scrub:
        kept = kept.withColumn(text_col, pii_scrub(F.col(text_col)))
    return kept


def unpersist_stages(stats: dict) -> int:
    """Release the stage caches a corpus_pipeline(stats=...) run persisted.
    Call AFTER materializing (writing/collecting) the pipeline output —
    unpersisting earlier would just re-run the upstream chains. Returns the
    number of frames released; idempotent (the handle list is drained)."""
    n = 0
    for df in stats.pop("persisted", []):
        df.unpersist()
        n += 1
    return n


def corpus_pipeline_sql(
    eval_mod: int = 37,
    min_quality: float = 0.45,
    max_hamming: int = 3,
    contamination_n: int = 8,
    max_shared_shingles: int = 0,
    out_cols: str = "doc_id, text, lang, source, n_chars",
    quality: str = "v1",
    dup_span_n: int | None = None,
    dup_span_min_count: int = 2,
) -> str:
    """DuckDB twin of corpus_pipeline for the oracle split:
    corpus = documents with doc_id % eval_mod != 0, eval = the rest; dedup
    via brute-force O(n²) simhash hamming (proving the engine's bucketed
    path loses nothing) resolved by the recursive-CTE transitive closure.
    `quality` mirrors corpus_pipeline's knob: 'v1' = ratio heuristic,
    'v2' = the Gopher-style composite (composed from quality_repetition_sql
    so the filter semantics match the staged quality_v2 column exactly)."""
    from ocr_spark.operators.dedup import (
        _shingles_sql,
        dedup_clusters_sql,
        simhash_sql,
    )
    from ocr_spark.operators.text_analysis import (
        h60_sql,
        pii_scrub_sql,
        quality_repetition_sql,
        quality_score_sql,
    )

    if quality not in ("v1", "v2"):
        raise ValueError(f"quality={quality!r}: expected 'v1' or 'v2'")
    if quality == "v1":
        fd = (
            f"SELECT * FROM documents WHERE doc_id % {eval_mod} <> 0 "
            f"AND {quality_score_sql('text')} >= {min_quality}"
        )
    else:
        fd = (
            f"SELECT d.* FROM documents d JOIN "
            f"(SELECT doc_id, quality_v2 FROM ({quality_repetition_sql('text')})) qv "
            f"USING (doc_id) "
            f"WHERE d.doc_id % {eval_mod} <> 0 AND qv.quality_v2 >= {min_quality}"
        )
    pairs = (
        f"WITH sig AS ({simhash_sql(table='fd')}) "
        f"SELECT a.id AS id_a, b.id AS id_b FROM sig a JOIN sig b "
        f"ON a.id < b.id "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"
    )
    scrubbed_cols = out_cols.replace(
        "text", f"{pii_scrub_sql('text')} AS text", 1
    )
    kd = (
        "SELECT * FROM fd "
        "WHERE doc_id NOT IN (SELECT id FROM cl WHERE id <> rep)"
    )
    if dup_span_n is not None:
        from ocr_spark.operators.corpus_clean import _dup_span_rewrite_sql

        kd = _dup_span_rewrite_sql(
            kd, dup_span_n, dup_span_min_count, counters=False
        )
    return f"""
WITH fd AS ({fd}),
cl AS ({dedup_clusters_sql(pairs)}),
kd AS ({kd}),
ksh AS (SELECT DISTINCT id, {h60_sql('shingle')} AS sh
        FROM ({_shingles_sql(contamination_n, table='kd')})),
ed AS (SELECT * FROM documents WHERE doc_id % {eval_mod} = 0),
esh AS (SELECT DISTINCT {h60_sql('shingle')} AS sh
        FROM ({_shingles_sql(contamination_n, table='ed')})),
cont AS (SELECT id, count(DISTINCT sh) AS n_shared
         FROM ksh JOIN esh USING (sh) GROUP BY id)
SELECT {scrubbed_cols} FROM kd
WHERE doc_id NOT IN (SELECT id FROM cont WHERE n_shared > {max_shared_shingles})
"""
