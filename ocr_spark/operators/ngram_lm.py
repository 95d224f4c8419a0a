"""Trigram language-model perplexity scoring with Stupid Backoff — the
CCNet-style LM quality filter for web-scale training-data pipelines.

Web corpus builds (CCNet, Wenzek et al. 2020; Gopher; LLaMA) score every
document's perplexity under an n-gram LM trained on a trusted corpus and
keep the head/middle of the distribution. This module supplies that
component Spark-first (beyond-reference scope — the reference is a
per-file desktop OCR app, ref ocr_workflow_orchestrator.py:200-260, with
no corpus statistics at all):

  * `train_ngram_lm(docs)` — unigram/bigram/trigram count tables, pruned
    deterministically (min_count floor, then top-k by (count desc, gram
    asc)), via groupBy partial aggregation: one shuffle per order, on the
    gram key, map-side combined.
  * `ngram_perplexity(docs, lm)` — per-document mean token surprisal
    under Stupid Backoff (Brants et al. 2007, "Large Language Models in
    Machine Translation": score = count(ngram)/count(context), backing
    off with a fixed 0.4 multiplier per level — the published web-scale
    choice because it needs no discounting pass over the counts). The
    unigram floor is the same Laplace form as `unigram_logprob`
    ((c+1)/(T+V)), so every token has a nonzero score and OOV text is
    scored, not dropped.

100 TB plan shape: the three pruned LM tables are bounded by the top-k
caps (model size is a CHOICE, not a function of corpus size — Brants et
al. prune exactly this way), so scoring is five BROADCAST left joins
(trigram, bigram-as-context, bigram, unigram-as-context, unigram) plus a
broadcast 1-row totals frame: the corpus side never shuffles on the
skewed token key, and the only corpus shuffle is the final per-doc
re-aggregation, combined map-side because a doc's grams stay in one
partition. Training shuffles gram-key counts only (vocab-sized, not
corpus-sized, after the partial agg).

Cross-engine contract (same float policy as corpus_clean): the single
transcendental ln(S) is quantized to integer micro-nats per token BEFORE
aggregation; S itself is built from BIGINT counts with a pinned
cast/operation order (ratio first, then the 0.4 / 0.16 backoff literal),
so Spark and the DuckDB twin agree bit-for-bit.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocr_spark.operators.corpus_clean import _TOKEN_PATTERN


class NGramLM(NamedTuple):
    """Pruned count tables + corpus totals, as returned by train_ngram_lm.

    uni: (w, c) — unigram counts, top `top_unigrams` by (c desc, w asc).
    bi:  (p1, w, c) — bigram counts (p1 = previous token).
    tri: (p2, p1, w, c) — trigram counts (p2 = token before p1).
    totals: 1-row (t_total, v_size) over the UNPRUNED unigram table — the
    Laplace denominator, consistent with unigram_logprob.
    """

    uni: DataFrame
    bi: DataFrame
    tri: DataFrame
    totals: DataFrame

    def persist(self) -> "NGramLM":
        """Persist all four tables (they are top-k-bounded, so this is a
        small, fixed-size cache regardless of training-corpus scale).
        Scoring references uni and bi TWICE each (word + context role),
        so an unpersisted model recomputes its training aggregation per
        role — persist before scoring anything large."""
        for df in self:
            df.persist()
        return self

    def unpersist(self) -> "NGramLM":
        for df in self:
            df.unpersist()
        return self


def _grams(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w, p1, p2) rows: every token with its 1- and 2-back context
    (null at document start). Pure codegen — the token array is built
    in-row and the contexts are element_at lookups, no self-join."""
    base = docs.select(
        F.col(id_col),
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(_TOKEN_PATTERN), 0
        ).alias("arr"),
    )
    # posexplode pos is 0-based; element_at is 1-based, so element_at(arr,
    # pos) is the PREVIOUS token. Guards keep element_at indices >= 1
    # (ANSI mode errors on index 0).
    return base.select(
        F.col(id_col),
        F.posexplode("arr").alias("i", "w"),
        F.col("arr"),
    ).select(
        F.col(id_col),
        F.col("w"),
        F.when(F.col("i") >= 1, F.element_at("arr", F.col("i"))).alias("p1"),
        F.when(F.col("i") >= 2, F.element_at("arr", F.col("i") - 1)).alias(
            "p2"
        ),
    )


def _prune(counts: DataFrame, keys: list[str], top_k: int, min_count: int):
    """min_count floor, then deterministic top-k by (c desc, keys asc) —
    a total order, since the keys are unique per grouped row. orderBy +
    limit plans as TakeOrderedAndProject: each partition keeps its own
    top_k, so no single-partition window over the gram table."""
    if min_count > 1:
        counts = counts.where(F.col("c") >= F.lit(min_count))
    order = [F.col("c").desc()] + [F.col(k).asc() for k in keys]
    return counts.orderBy(*order).limit(top_k)


def train_ngram_lm(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_unigrams: int = 50_000,
    top_bigrams: int = 500_000,
    top_trigrams: int = 500_000,
    min_count: int = 2,
) -> NGramLM:
    """Count-and-prune training. min_count applies to bigrams/trigrams
    only (the Brants-style long-tail cut); unigrams keep every token so
    the Laplace totals match unigram_logprob's."""
    g = _grams(docs, id_col, text_col)
    uni_all = g.groupBy("w").agg(F.count("*").cast("long").alias("c"))
    totals = uni_all.agg(
        F.sum("c").cast("long").alias("t_total"),
        F.count("*").cast("long").alias("v_size"),
    )
    uni = _prune(uni_all, ["w"], top_unigrams, 1)
    bi = _prune(
        g.where(F.col("p1").isNotNull())
        .groupBy("p1", "w")
        .agg(F.count("*").cast("long").alias("c")),
        ["p1", "w"],
        top_bigrams,
        min_count,
    )
    tri = _prune(
        g.where(F.col("p2").isNotNull())
        .groupBy("p2", "p1", "w")
        .agg(F.count("*").cast("long").alias("c")),
        ["p2", "p1", "w"],
        top_trigrams,
        min_count,
    )
    return NGramLM(uni=uni, bi=bi, tri=tri, totals=totals)


def ngram_perplexity(
    docs: DataFrame,
    lm: NGramLM | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    **train_kwargs,
) -> DataFrame:
    """Per-doc Stupid-Backoff surprisal in micro-nats.

    Returns (id_col, n_tokens, sum_lp_micronat, avg_lp_micronat); docs
    with zero tokens emit no row (same contract as unigram_logprob).
    Perplexity is exp(-avg_lp_micronat / 1e6) — derive it downstream;
    the exact-twin output stays in the integer/single-division domain.

    lm=None self-trains on `docs` (the oracle-twinned form — fine at
    test scale, but it re-runs the training aggregations per table role,
    ~7 corpus scans). The scale path is explicit: train once on the
    trusted corpus, `lm.persist()`, then score any number of crawl
    shards against the cached fixed-size tables.
    """
    if lm is None:
        lm = train_ngram_lm(docs, id_col, text_col, **train_kwargs)
    g = (
        _grams(docs, id_col, text_col)
        .join(
            F.broadcast(lm.tri.withColumnRenamed("c", "tri_c")),
            ["p2", "p1", "w"],
            "left",
        )
        .join(
            F.broadcast(
                lm.bi.select(
                    F.col("p1").alias("p2"),
                    F.col("w").alias("p1"),
                    F.col("c").alias("bi_ctx_c"),
                )
            ),
            ["p2", "p1"],
            "left",
        )
        .join(
            F.broadcast(lm.bi.withColumnRenamed("c", "bi_c")),
            ["p1", "w"],
            "left",
        )
        .join(
            F.broadcast(
                lm.uni.select(
                    F.col("w").alias("p1"), F.col("c").alias("uni_ctx_c")
                )
            ),
            ["p1"],
            "left",
        )
        .join(
            F.broadcast(lm.uni.withColumnRenamed("c", "uni_c")),
            ["w"],
            "left",
        )
        .crossJoin(F.broadcast(lm.totals))
    )
    # Pinned float order (matches the SQL twin): each ratio is computed
    # first, the backoff literal multiplies the finished ratio.
    uni_s = (F.coalesce(F.col("uni_c"), F.lit(0)) + F.lit(1)).cast(
        "double"
    ) / (F.col("t_total") + F.col("v_size")).cast("double")
    bi_ratio = F.col("bi_c").cast("double") / F.col("uni_ctx_c").cast("double")
    tri_ratio = F.col("tri_c").cast("double") / F.col("bi_ctx_c").cast(
        "double"
    )
    have_tri = F.col("tri_c").isNotNull() & F.col("bi_ctx_c").isNotNull()
    have_bi = F.col("bi_c").isNotNull() & F.col("uni_ctx_c").isNotNull()
    s = (
        F.when(F.col("p2").isNotNull() & have_tri, tri_ratio)
        .when(F.col("p2").isNotNull() & have_bi, F.lit(0.4) * bi_ratio)
        .when(F.col("p2").isNotNull(), F.lit(0.16) * uni_s)
        .when(F.col("p1").isNotNull() & have_bi, bi_ratio)
        .when(F.col("p1").isNotNull(), F.lit(0.4) * uni_s)
        .otherwise(uni_s)
    )
    lp = F.floor(F.log(s) * F.lit(1_000_000.0)).cast("long")
    return (
        g.select(F.col(id_col), lp.alias("lp"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("lp").cast("long").alias("sum_lp_micronat"),
            (F.sum("lp").cast("double") / F.count("*")).alias(
                "avg_lp_micronat"
            ),
        )
    )


def ngram_perplexity_sql(
    src: str,
    top_unigrams: int = 50_000,
    top_bigrams: int = 500_000,
    top_trigrams: int = 500_000,
    min_count: int = 2,
) -> str:
    """DuckDB twin of the self-trained ngram_perplexity form."""
    return f"""
WITH src AS ({src}),
base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS arr
  FROM src),
grams AS (
  SELECT doc_id, arr[i] AS w,
         CASE WHEN i >= 2 THEN arr[i - 1] END AS p1,
         CASE WHEN i >= 3 THEN arr[i - 2] END AS p2
  FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i
        FROM base)),
uni_all AS (SELECT w, count(*)::BIGINT AS c FROM grams GROUP BY w),
tot AS (SELECT sum(c)::BIGINT AS t_total, count(*)::BIGINT AS v_size
        FROM uni_all),
uni AS (
  SELECT w, c FROM (
    SELECT w, c, row_number() OVER (ORDER BY c DESC, w ASC) AS rn
    FROM uni_all) WHERE rn <= {top_unigrams}),
bi AS (
  SELECT p1, w, c FROM (
    SELECT p1, w, c,
           row_number() OVER (ORDER BY c DESC, p1 ASC, w ASC) AS rn
    FROM (SELECT p1, w, count(*)::BIGINT AS c FROM grams
          WHERE p1 IS NOT NULL GROUP BY p1, w)
    WHERE c >= {min_count}) WHERE rn <= {top_bigrams}),
tri AS (
  SELECT p2, p1, w, c FROM (
    SELECT p2, p1, w, c,
           row_number() OVER (ORDER BY c DESC, p2 ASC, p1 ASC, w ASC) AS rn
    FROM (SELECT p2, p1, w, count(*)::BIGINT AS c FROM grams
          WHERE p2 IS NOT NULL GROUP BY p2, p1, w)
    WHERE c >= {min_count}) WHERE rn <= {top_trigrams}),
scored AS (
  SELECT g.doc_id,
         floor(ln(
           CASE
             WHEN g.p2 IS NOT NULL AND tri.c IS NOT NULL
                  AND bc.c IS NOT NULL
               THEN tri.c::DOUBLE / bc.c::DOUBLE
             WHEN g.p2 IS NOT NULL AND bi.c IS NOT NULL
                  AND uc.c IS NOT NULL
               THEN 0.4 * (bi.c::DOUBLE / uc.c::DOUBLE)
             WHEN g.p2 IS NOT NULL
               THEN 0.16 * ((coalesce(uni.c, 0) + 1)::DOUBLE
                            / (tot.t_total + tot.v_size)::DOUBLE)
             WHEN g.p1 IS NOT NULL AND bi.c IS NOT NULL
                  AND uc.c IS NOT NULL
               THEN bi.c::DOUBLE / uc.c::DOUBLE
             WHEN g.p1 IS NOT NULL
               THEN 0.4 * ((coalesce(uni.c, 0) + 1)::DOUBLE
                           / (tot.t_total + tot.v_size)::DOUBLE)
             ELSE (coalesce(uni.c, 0) + 1)::DOUBLE
                  / (tot.t_total + tot.v_size)::DOUBLE
           END) * 1000000.0)::BIGINT AS lp
  FROM grams g
  LEFT JOIN tri ON tri.p2 = g.p2 AND tri.p1 = g.p1 AND tri.w = g.w
  LEFT JOIN bi bc ON bc.p1 = g.p2 AND bc.w = g.p1
  LEFT JOIN bi ON bi.p1 = g.p1 AND bi.w = g.w
  LEFT JOIN uni uc ON uc.w = g.p1
  LEFT JOIN uni ON uni.w = g.w
  CROSS JOIN tot)
SELECT doc_id,
       count(*)::BIGINT AS n_tokens,
       sum(lp)::BIGINT AS sum_lp_micronat,
       (sum(lp)::DOUBLE / count(*)) AS avg_lp_micronat
FROM scored GROUP BY doc_id
""".strip()


# ---------------------------------------------------------------------------
# CCNet head/middle/tail split (Wenzek et al. 2020 §4.3): per-language
# perplexity terciles partition the corpus into head (best), middle, tail;
# corpus builds keep head+middle (or reweight by bucket). Thresholds are
# computed ONCE driver-side and injected into BOTH engines as literals —
# the same policy as temperature_targets (strata are languages, few by
# definition; the corpus itself never leaves the cluster). At test scale
# the thresholds come from Spark's exact `percentile` aggregate; at 100 TB
# swap in percentile_approx (t-digest) — the injected-literal design makes
# the estimator a drop-in choice, not a twin-parity hazard.
# ---------------------------------------------------------------------------


def perplexity_split_thresholds(
    scored: DataFrame,
    stratum_col: str = "lang",
    score_col: str = "avg_lp_micronat",
    quantiles: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    approx_accuracy: int | None = None,
) -> dict:
    """{stratum: (t_head, t_middle)} — per-stratum score quantiles.

    `score_col` is the ngram_perplexity output (mean log-prob in
    micro-nats, HIGHER = better/lower perplexity), so the head cut is the
    UPPER quantile: score >= t_head -> head, >= t_middle -> middle.
    Null strata are dropped (never split — the temperature_targets
    convention).

    `approx_accuracy` switches to percentile_approx (Greenwald-Khanna
    sketch) — the corpus-scale path this function's docstring always
    promised: exact percentile buffers every stratum's scores in one
    aggregation state, fine at test scale but not for 10^10 docs per
    language; the sketch is mergeable map-side state with rank error
    ≤ 1/accuracy (accuracy 10_000 ⇒ the cut moves by ≤0.01% of the
    stratum — tests bound the resulting bucket drift). Thresholds stay
    driver-side literals either way, so perplexity_split and its SQL twin
    are unchanged (and twin-exact: both engines apply the SAME numbers)."""
    q1, q2 = quantiles
    if not (0.0 < q1 < q2 < 1.0):
        raise ValueError(f"quantiles must satisfy 0 < q1 < q2 < 1, got {quantiles}")
    if approx_accuracy is None:
        aggs = [
            F.percentile(F.col(score_col), F.lit(1.0 - q1)).alias("t_head"),
            F.percentile(F.col(score_col), F.lit(1.0 - q2)).alias("t_middle"),
        ]
    else:
        if approx_accuracy < 1:
            raise ValueError(f"approx_accuracy must be >= 1, got {approx_accuracy}")
        aggs = [
            F.percentile_approx(
                F.col(score_col), F.lit(1.0 - q1), F.lit(approx_accuracy)
            ).alias("t_head"),
            F.percentile_approx(
                F.col(score_col), F.lit(1.0 - q2), F.lit(approx_accuracy)
            ).alias("t_middle"),
        ]
    rows = (
        scored.where(F.col(stratum_col).isNotNull())
        .groupBy(stratum_col)
        .agg(*aggs)
        .collect()
    )
    # percentile skips nulls: a stratum whose every score is NULL yields
    # NULL thresholds — drop it (its docs bucket 'tail' like any stratum
    # absent from the map) instead of crashing float()
    return {
        r[0]: (float(r[1]), float(r[2]))
        for r in rows
        if r[1] is not None and r[2] is not None
    }


def perplexity_split(
    scored: DataFrame,
    thresholds: dict,
    stratum_col: str = "lang",
    score_col: str = "avg_lp_micronat",
) -> DataFrame:
    """Adds `ppl_bucket` ('head'|'middle'|'tail'): two literal-map lookups
    + one CASE, no shuffle — the corpus-side cost of the CCNet split is
    zero beyond the scoring pass itself. Docs in strata absent from
    `thresholds` (including null strata) get null lookups, so both
    comparisons are null and they bucket as 'tail' — the conservative
    keep-nothing default. create_map (the temperature_sample shape) keeps
    the expression FLAT: a per-stratum nested CASE chain would nest one
    level per language and blow up analysis at real stratum counts."""
    if not thresholds:
        return scored.withColumn("ppl_bucket", F.lit("tail"))
    items = sorted(thresholds.items())
    m_head = F.create_map(
        *[x for s, (t1, _) in items for x in (F.lit(s), F.lit(t1))]
    )
    m_mid = F.create_map(
        *[x for s, (_, t2) in items for x in (F.lit(s), F.lit(t2))]
    )
    sc = F.col(score_col)
    bucket = (
        F.when(sc >= m_head[F.col(stratum_col)], F.lit("head"))
        .when(sc >= m_mid[F.col(stratum_col)], F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.withColumn("ppl_bucket", bucket)


def perplexity_split_sql(
    src: str,
    thresholds: dict,
    stratum_col: str = "lang",
    score_col: str = "avg_lp_micronat",
) -> str:
    """DuckDB twin over the SAME literal thresholds: `src` yields the
    scored frame; output adds ppl_bucket with identical branch order.
    Stratum literals are ''-escaped (F.lit on the Spark side handles any
    string; the twin must too), and an empty threshold map emits a plain
    'tail' literal — `CASE ELSE ...` with zero WHENs is a parse error."""
    if not thresholds:
        return f"SELECT *, 'tail' AS ppl_bucket FROM ({src})"
    cases = " ".join(
        f"WHEN {stratum_col} = '{str(s).replace(chr(39), chr(39) * 2)}' THEN "
        f"(CASE WHEN {score_col} >= {t1!r} THEN 'head' "
        f"WHEN {score_col} >= {t2!r} THEN 'middle' ELSE 'tail' END)"
        for s, (t1, t2) in sorted(thresholds.items())
    )
    return (
        f"SELECT *, CASE {cases} ELSE 'tail' END AS ppl_bucket FROM ({src})"
    )
