"""Text analysis for large-scale training-data pipelines (task directive):
language-ID (stopword n-gram heuristic), quality scoring, token counting,
document fingerprinting. All native Catalyst expressions (codegen, no UDFs),
each with a DuckDB-SQL twin for the correctness oracle.

The shared cross-engine hash primitive is h32(x) = int(md5(x)[0:8], 16) —
identical in Spark (conv) and DuckDB ('0x'||…::BIGINT), used by dedup and
fingerprinting so oracles can verify hash-dependent operators exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared deterministic 32-bit hash (cross-engine)
# ---------------------------------------------------------------------------


def h32(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def h32_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


def h60(col: Column) -> Column:
    """60-bit cross-engine hash (15 md5 hex chars — fits a signed BIGINT).
    Used where 32 bits would collide at corpus scale (shingle keys)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# ---------------------------------------------------------------------------
# token counting: whitespace tokens + a BPE-ish word/punct regex
# ---------------------------------------------------------------------------

_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_token_count(col: Column) -> Column:
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def ws_token_count_sql(expr: str) -> str:
    return (
        f"CASE WHEN length(trim({expr})) = 0 THEN 0 "
        f"ELSE length(regexp_split_to_array(trim({expr}), '\\s+')) END::BIGINT"
    )


def bpe_token_count(col: Column) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(_BPE_PATTERN), 0)).cast("long")


def bpe_token_count_sql(expr: str) -> str:
    return f"length(regexp_extract_all({expr}, '{_BPE_PATTERN}'))::BIGINT"


# ---------------------------------------------------------------------------
# quality scoring: alpha ratio, punctuation ratio, stopword ratio, mean word
# length — a deterministic blend in [0,1] (doc-quality heuristics in the
# Gopher/C4 tradition, re-derived as pure SQL expressions)
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
_PUNCT = r"[.,;:!?'\"()\[\]{}-]"


def _count_re(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), 0)).cast("double")


def quality_score(col: Column) -> Column:
    lower = F.lower(col)
    n_chars = F.greatest(F.length(col).cast("double"), F.lit(1.0))
    n_alpha = _count_re(col, r"[A-Za-z]")
    n_punct = _count_re(col, _PUNCT)
    n_words = ws_token_count(col).cast("double")
    stop_pat = r"\b(" + "|".join(_STOPWORDS) + r")\b"
    n_stop = _count_re(lower, stop_pat)
    alpha_ratio = n_alpha / n_chars
    punct_ratio = F.least(n_punct / F.greatest(n_words, F.lit(1.0)), F.lit(1.0))
    stop_ratio = F.least(n_stop / F.greatest(n_words, F.lit(1.0)), F.lit(0.5)) * 2.0
    score = alpha_ratio * 0.5 + stop_ratio * 0.3 + (1.0 - punct_ratio) * 0.2
    return F.round(score, 6)


def quality_score_sql(expr: str) -> str:
    stop_pat = r"\b(" + "|".join(_STOPWORDS) + r")\b"
    punct_sql = _PUNCT.replace("'", "''")
    n_chars = f"greatest(length({expr})::DOUBLE, 1.0)"
    n_alpha = f"length(regexp_extract_all({expr}, '[A-Za-z]'))::DOUBLE"
    n_punct = f"length(regexp_extract_all({expr}, '{punct_sql}'))::DOUBLE"
    n_words = f"({ws_token_count_sql(expr)})::DOUBLE"
    n_stop = f"length(regexp_extract_all(lower({expr}), '{stop_pat}'))::DOUBLE"
    alpha_ratio = f"({n_alpha} / {n_chars})"
    punct_ratio = f"least({n_punct} / greatest({n_words}, 1.0), 1.0)"
    stop_ratio = f"(least({n_stop} / greatest({n_words}, 1.0), 0.5) * 2.0)"
    return (
        f"round({alpha_ratio} * 0.5 + {stop_ratio} * 0.3 "
        f"+ (1.0 - {punct_ratio}) * 0.2, 6)"
    )


# ---------------------------------------------------------------------------
# language ID: per-language stopword-hit counts, argmax with deterministic
# tie-break (en > de > fr > es lexicographic on count desc, lang asc), 'und'
# when nothing matches
# ---------------------------------------------------------------------------

LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is", "that", "with"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit"),
    "fr": ("le", "la", "les", "et", "est", "que", "dans"),
    "es": ("el", "los", "las", "es", "que", "por", "con"),
}


def _lang_count(col: Column, lang: str) -> Column:
    pat = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(pat), 0)).cast("long")


def lang_id(col: Column) -> Column:
    counts = {lang: _lang_count(col, lang) for lang in LANG_MARKERS}
    best = F.greatest(*counts.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in sorted(LANG_MARKERS):  # deterministic tie-break: lang asc
        expr = expr.when(counts[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def lang_id_sql(expr: str) -> str:
    def cnt(lang):
        pat = r"\b(" + "|".join(LANG_MARKERS[lang]) + r")\b"
        return f"length(regexp_extract_all(lower({expr}), '{pat}'))::BIGINT"

    counts = {lang: cnt(lang) for lang in LANG_MARKERS}
    best = "greatest(" + ", ".join(counts.values()) + ")"
    whens = " ".join(
        f"WHEN {counts[lang]} = {best} THEN '{lang}'" for lang in sorted(LANG_MARKERS)
    )
    return f"CASE WHEN {best} = 0 THEN 'und' {whens} ELSE 'und' END"


# ---------------------------------------------------------------------------
# profile-based language ID (round 5): char-trigram frequency profiles for
# ~20 languages (Cavnar & Trenkle-style, public method), trained offline by
# scripts/gen_lang_profiles.py into resources/lang_profiles.tsv. The
# stopword-argmax lang_id above stays as the zero-profile-match fallback.
# ---------------------------------------------------------------------------

_LANG_PROFILES_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "lang_profiles.tsv",
)

_LANG_PROFILES: list[tuple[str, str, int]] | None = None


def load_lang_profiles() -> list[tuple[str, str, int]]:
    """(lang, gram, weight) rows from the committed fixture, cached."""
    global _LANG_PROFILES
    if _LANG_PROFILES is None:
        rows = []
        with open(_LANG_PROFILES_PATH, encoding="utf-8") as f:
            for line in f:
                if line.startswith("#") or not line.rstrip("\n"):
                    continue
                lang, gram, w = line.rstrip("\n").split("\t")
                rows.append((lang, gram, int(w)))
        _LANG_PROFILES = rows
    return _LANG_PROFILES


def _gram_text(col: Column) -> Column:
    """SHARED trigram normalization (must match gen_lang_profiles.trigrams
    and _gram_text_sql): lowercase, whitespace runs -> one space, one
    leading/trailing pad space."""
    return F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), r"\s+", " "),
        F.lit(" "),
    )


def lang_id_profile(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, lang_pred): char-trigram profile scoring. The doc's trigram
    stream joins the broadcast (gram, lang, weight) profile table; per-doc
    per-lang weight sums argmax with a deterministic tie-break (score desc,
    lang asc). Docs with NO profile hit fall back to the stopword-argmax
    lang_id (which itself falls back to 'und').

    Scale shape: explode + ONE broadcast equi-join on the gram + two
    partial-agg shuffles keyed by doc id — the idiomatic Spark profile
    scorer; the 2.1k-row profile table broadcasts everywhere, the corpus
    never joins against anything non-broadcast."""
    from pyspark.sql.window import Window

    spark = docs.sparkSession
    prof = spark.createDataFrame(
        load_lang_profiles(), "lang string, gram string, w int"
    )
    s = _gram_text(F.col(text_col))
    staged = docs.select(F.col(id_col), s.alias("_s"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("_s") - 2, F.lit(1))),
        lambda i: F.substring(F.col("_s"), i, 3),
    )
    g = staged.select(id_col, F.explode(grams).alias("gram"))
    scored = (
        g.join(F.broadcast(prof), "gram")
        .groupBy(id_col, "lang")
        .agg(F.sum("w").alias("score"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.col("lang"))
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col(id_col), F.col("lang").alias("_lang"))
    )
    return docs.join(best, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("_lang"), lang_id(F.col(text_col))).alias("lang_pred"),
    )


def lang_id_profile_sql(
    src: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of lang_id_profile over `src` — same fixture rows as a
    VALUES table, same normalization, same tie-break, same fallback."""

    def esc(x: str) -> str:
        return x.replace("'", "''")

    values = ", ".join(
        f"('{esc(lang)}', '{esc(gram)}', {w})"
        for lang, gram, w in load_lang_profiles()
    )
    return f"""
WITH src AS ({src}),
d AS (SELECT {id_col},
             ' ' || regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')
                 || ' ' AS s,
             text
      FROM src),
g AS (SELECT {id_col},
             unnest(list_transform(range(1, greatest(length(s) - 2, 1) + 1),
                    i -> s[i:i+2])) AS gram
      FROM d),
p AS (SELECT * FROM (VALUES {values}) AS t(lang, gram, w)),
sc AS (SELECT {id_col}, lang, sum(w) AS score
       FROM g JOIN p USING (gram) GROUP BY {id_col}, lang),
b AS (SELECT {id_col}, lang,
             row_number() OVER (PARTITION BY {id_col}
                                ORDER BY score DESC, lang) AS rn
      FROM sc)
SELECT d.{id_col},
       coalesce(b.lang, {lang_id_sql('d.text')}) AS lang_pred
FROM d LEFT JOIN (SELECT {id_col}, lang FROM b WHERE rn = 1) b
  USING ({id_col})
""".strip()


# ---------------------------------------------------------------------------
# document fingerprint: md5 of casefolded alphanumeric-normalized text
# (rolling-hash-class canonical fingerprint; exact-dup key)
# ---------------------------------------------------------------------------


def fingerprint(col: Column) -> Column:
    return F.md5(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def fingerprint_sql(expr: str) -> str:
    return f"md5(regexp_replace(lower({expr}), '[^a-z0-9]+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# repetition quality signals (Gopher/C4 family): duplicate-line fraction,
# duplicate-line CHAR fraction, top-bigram char fraction, adjacent-char
# repetition — the signals that dominate real corpus filtering, as native
# array/lambda expressions (codegen; no explode, no UDF). Per-doc cost is
# O(L log L) in lines/grams: each array is sorted once and counted by runs
# of equal neighbours — the in-row twin of the explode-based corpus
# machinery (dedup.ngram_topk) that handles corpus-wide stats.
# All fractions are RAW doubles of integer-count divisions, so both engines
# produce bit-identical values (no round() boundary hazards).
# ---------------------------------------------------------------------------


def _nonempty_lines(col: Column) -> Column:
    return F.filter(F.split(col, "\n"), lambda x: x != F.lit(""))


def _run_starts(a: Column) -> Column:
    """1-based positions of the sorted array `a` where a run of equal
    elements starts (one per distinct element; NULL for NULL a)."""
    n = F.size(a)
    return F.when(n == 0, F.array().cast("array<int>")).otherwise(
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: F.when(i == 1, F.lit(True)).otherwise(
                F.element_at(a, i) != F.element_at(a, i - 1)
            ),
        )
    )


def _runs(a: Column, starts: Column) -> Column:
    """struct(s = run start, c = run length) per run of the sorted array
    `a`, from its _run_starts: each run ends where the next one starts."""
    nxt = F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0)))
    return F.zip_with(
        starts,
        nxt,
        lambda s, e: F.struct(
            s.alias("s"), (F.coalesce(e, F.size(a) + 1) - s).alias("c")
        ),
    )


def quality_repetition_select(df, text: Column, id_cols=("doc_id",), n: int = 2):
    """All repetition signals + quality_v2 in STAGED projections, one row
    per input row (id_cols + the five columns below):
      dup_line_frac        non-empty lines that duplicate an earlier line
                           (all occurrences beyond the first count);
      dup_line_char_frac   line characters in duplicated lines (every
                           occurrence of a repeated line counts);
      top_bigram_char_frac characters covered by the most frequent word
                           n-gram (count x gram length / text length; ties
                           -> the lexicographically smallest gram);
      char_run_rep         adjacent character positions repeating the
                           previous one (aaaaa / !!!!!);
      quality_v2           the Gopher-style composite: quality_score 60%,
                           1 - dup_line_frac 15%, 1 - top_bigram 15%,
                           1 - char_run 10%.
    Lines and grams are sorted once, then counted as runs of equal
    neighbours: O(L log L) per doc, so one long doc cannot stall its task
    (one count per distinct element over the whole array would be O(L²):
    tens of seconds at 20,000 words). Sorted arrays, run starts and runs
    are each computed ONCE as intermediate columns, then the fractions read
    those columns. One expression per signal would inline the O(len) array
    subtrees dozens of times — the plan explodes and codegen/analysis
    dominates. The DuckDB twin (quality_repetition_sql) stages the same way
    with CTEs."""
    s1 = df.select(*id_cols, text.alias("_t"))
    # stage the token array BEFORE building grams: element_at inside a
    # transform lambda re-evaluates inline subtrees per element (the regex
    # split would run ~2k times per row — measured 20× slower at sf0.1)
    s1b = s1.select(
        "*",
        F.filter(
            F.split(F.lower(F.col("_t")), r"[^a-z0-9]+"), lambda x: x != F.lit("")
        ).alias("_words"),
    )
    w = F.col("_words")
    k = F.greatest(F.size(w) - (n - 1), F.lit(0))
    grams = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    s2 = s1b.select(
        "*",
        _nonempty_lines(F.col("_t")).alias("_lines"),
        grams.alias("_grams"),
        F.split(F.col("_t"), "").alias("_chars"),
    ).drop("_words")
    # ascending sort: the first run of maximal length is then the
    # lexicographically smallest top gram, the twin's list_min tie rule
    s3 = s2.select(
        "*",
        F.sort_array("_lines").alias("_sl"),
        F.sort_array("_grams").alias("_sg"),
    ).drop("_lines", "_grams")
    s4 = s3.select(
        "*",
        _run_starts(F.col("_sl")).alias("_ls"),
        _run_starts(F.col("_sg")).alias("_gs"),
    )
    s5 = s4.select(
        "*",
        _runs(F.col("_sl"), F.col("_ls")).alias("_lr"),
        _runs(F.col("_sg"), F.col("_gs")).alias("_gr"),
    )
    n_lines = F.size("_sl")
    dup_line = F.when(n_lines <= 0, F.lit(0.0)).otherwise(
        (n_lines - F.size("_ls")) / n_lines
    )
    dup_chars = F.aggregate(
        F.filter(F.col("_lr"), lambda r: r["c"] > 1),
        F.lit(0).cast("long"),
        lambda acc, r: acc
        + r["c"].cast("long") * F.length(F.element_at("_sl", r["s"])).cast("long"),
    )
    tot_chars = F.aggregate(
        F.col("_sl"), F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
    )
    dup_line_char = F.when(tot_chars <= 0, F.lit(0.0)).otherwise(dup_chars / tot_chars)
    counts = F.transform(F.col("_gr"), lambda r: r["c"])
    maxc = F.array_max(counts)
    top_run = F.element_at(F.col("_gr"), F.array_position(counts, maxc).cast("int"))
    top = F.element_at(F.col("_sg"), top_run["s"])
    top_frac = F.when(F.size("_sg") <= 0, F.lit(0.0)).otherwise(
        (maxc * F.length(top)) / F.greatest(F.length("_t"), F.lit(1))
    )
    m = F.size("_chars")
    reps = F.size(
        F.filter(
            F.zip_with(
                F.slice(F.col("_chars"), 1, F.greatest(m - 1, F.lit(0))),
                F.slice(F.col("_chars"), 2, F.greatest(m - 1, F.lit(0))),
                lambda a, b: a == b,
            ),
            lambda x: x,
        )
    )
    char_run = F.when(m <= 1, F.lit(0.0)).otherwise(reps / (m - 1))
    s6 = s5.select(
        *id_cols,
        F.col("_t").alias("_t2"),
        dup_line.alias("dup_line_frac"),
        dup_line_char.alias("dup_line_char_frac"),
        top_frac.alias("top_bigram_char_frac"),
        char_run.alias("char_run_rep"),
    )
    qv2 = (
        quality_score(F.col("_t2")) * 0.6
        + (1.0 - F.col("dup_line_frac")) * 0.15
        + (1.0 - F.col("top_bigram_char_frac")) * 0.15
        + (1.0 - F.col("char_run_rep")) * 0.1
    )
    return s6.select(
        *id_cols,
        "dup_line_frac",
        "dup_line_char_frac",
        "top_bigram_char_frac",
        "char_run_rep",
        qv2.alias("quality_v2"),
    )


def quality_repetition_sql(t_expr: str, n: int = 2, table: str = "documents") -> str:
    """DuckDB twin of quality_repetition_select — same staged shape (CTEs),
    same math, bit-identical integer-count divisions."""
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    return f"""
WITH s0 AS (SELECT doc_id, {t_expr} AS t FROM {table}),
s1 AS (SELECT doc_id, t,
  list_filter(regexp_split_to_array(t, '\\n'), x -> x <> '') AS lines,
  (SELECT list_transform(range(1, greatest(len(w) - {n - 1}, 0) + 1), i -> {gram})
   FROM (SELECT list_filter(regexp_split_to_array(lower(t), '[^a-z0-9]+'),
                x -> x <> '') AS w)) AS grams
  FROM s0),
s2 AS (SELECT *, list_distinct(lines) AS dl, list_distinct(grams) AS dg FROM s1),
s3 AS (SELECT *,
  list_transform(dl, d -> struct_pack(c := len(list_filter(lines, x -> x = d)),
                                      l := length(d))) AS dlc,
  list_transform(dg, d -> len(list_filter(grams, x -> x = d))) AS dgc
  FROM s2),
s4 AS (SELECT doc_id, t,
  CASE WHEN len(lines) <= 0 THEN 0.0
       ELSE (len(lines) - len(dl)) / len(lines) END AS dup_line_frac,
  CASE WHEN t IS NULL THEN NULL
       -- coalesce maps list_sum([]) = NULL (empty/whitespace-only text) to
       -- the 0-chars branch, but must NOT fire for NULL text: Spark yields
       -- NULL there (the same null-propagation every other column follows)
       WHEN coalesce(list_sum(list_transform(lines, x -> length(x))), 0) <= 0 THEN 0.0
       ELSE coalesce(list_sum(list_transform(list_filter(dlc, s -> s.c > 1),
                                             s -> s.c * s.l)), 0)
            / coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
  END AS dup_line_char_frac,
  CASE WHEN len(dg) <= 0 THEN 0.0
       ELSE (list_max(dgc) * length(
              list_min(list_transform(
                list_filter(range(1, len(dg) + 1), i -> dgc[i] = list_max(dgc)),
                i -> dg[i]))))
            / greatest(length(t), 1)
  END AS top_bigram_char_frac,
  CASE WHEN length(t) <= 1 THEN 0.0
       ELSE len(list_filter(range(2, length(t) + 1), i -> t[i] = t[i-1]))
            / (length(t) - 1)
  END AS char_run_rep
  FROM s3)
SELECT doc_id, dup_line_frac, dup_line_char_frac, top_bigram_char_frac,
  char_run_rep,
  ({quality_score_sql('t')}) * 0.6 + (1.0 - dup_line_frac) * 0.15
    + (1.0 - top_bigram_char_frac) * 0.15 + (1.0 - char_run_rep) * 0.1
    AS quality_v2
FROM s4
"""


# ---------------------------------------------------------------------------
# PII scrubbing: ordered regex replacements with placeholders (training-data
# hygiene pass; patterns restricted to the RE2 ∩ Java-regex common subset so
# the DuckDB twin is exact)
# ---------------------------------------------------------------------------

# (pattern, replacement) in application order — later rules see earlier output
PII_RULES: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d{3}[- ]\d{3,4}[- ]\d{4}", "<PHONE>"),
]


def pii_scrub(col: Column, rules: list[tuple[str, str]] | None = None) -> Column:
    """Replace PII-shaped substrings with typed placeholders. Pure
    regexp_replace chain — whole-stage codegen, no UDF."""
    out = col
    for pat, rep in rules or PII_RULES:
        out = F.regexp_replace(out, pat, rep)
    return out


def pii_scrub_sql(expr: str, rules: list[tuple[str, str]] | None = None) -> str:
    out = expr
    for pat, rep in rules or PII_RULES:
        p = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{rep}', 'g')"
    return out


# ---------------------------------------------------------------------------
# C4 / Gopher heuristic rule filter — named boolean rules with reasons
# ---------------------------------------------------------------------------
#
# The canonical web-filtering rule sets (public C4 and Gopher papers) as one
# codegen'd pass: each rule is a named predicate; the output carries WHICH
# rules fired so filtering decisions are auditable (the operational need the
# single-score quality_v1/v2 blend can't serve). Word/line arrays are staged
# projections (the _exploded_shingles lesson); everything else is scalar
# expressions over them — no shuffle, no UDF, filters evaluate at the scan.

RULE_DEFAULTS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stop_words": 2,
    "min_sentences": 3,
}

_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def rule_filter_select(docs, text: Column, id_cols=("doc_id",), params: dict | None = None):
    """(id_cols..., keep, reasons): Gopher quality rules (word count bounds,
    mean word length, symbol ratio, bullet/ellipsis line fractions,
    alpha-word fraction, stop-word presence) + C4 rules (>= min_sentences,
    no lorem-ipsum / javascript-brace placeholder text). `reasons` lists the
    fired rule names in a fixed order; keep = (reasons is empty)."""
    p = {**RULE_DEFAULTS, **(params or {})}
    t = F.coalesce(text, F.lit(""))
    lower = F.lower(t)
    words = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )
    staged = docs.select(
        *[F.col(c) for c in id_cols],
        t.alias("_t"),
        lower.alias("_lo"),
        words.alias("_w"),
        lines.alias("_ln"),
    )
    w, ln, lo = F.col("_w"), F.col("_ln"), F.col("_lo")
    nw = F.size(w)
    nl = F.size(ln)
    safe_nw = F.greatest(nw, F.lit(1))
    safe_nl = F.greatest(nl, F.lit(1))
    mean_wl = F.aggregate(
        w, F.lit(0.0), lambda acc, x: acc + F.length(x)
    ) / safe_nw
    n_sym = (
        F.length(F.col("_t"))
        - F.length(F.regexp_replace(F.col("_t"), r"[#…]", ""))
        + (
            F.length(F.col("_t"))
            - F.length(F.regexp_replace(F.col("_t"), r"\.\.\.", ""))
        )
        / F.lit(3)
    )
    bullet_frac = (
        F.size(F.filter(ln, lambda x: x.rlike(r"^[-*•]"))) / safe_nl
    )
    ellipsis_frac = (
        F.size(F.filter(ln, lambda x: x.rlike(r"(\.\.\.|…)$"))) / safe_nl
    )
    alpha_frac = (
        F.size(F.filter(w, lambda x: x.rlike(r"[A-Za-z]"))) / safe_nw
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(
                F.filter(F.split(lo, r"[^a-z]+"), lambda x: x != "")
            ),
            F.array(*[F.lit(s) for s in _STOP_WORDS]),
        )
    )
    n_sentences = F.size(
        F.filter(
            F.transform(F.split(F.col("_t"), r"[.!?]"), lambda x: F.trim(x)),
            lambda x: x != "",
        )
    )
    placeholder = lo.contains("lorem ipsum") | lo.contains("{")
    checks = [
        ("word_count", (nw < p["min_words"]) | (nw > p["max_words"])),
        (
            "mean_word_len",
            (mean_wl < p["min_mean_word_len"]) | (mean_wl > p["max_mean_word_len"]),
        ),
        ("symbol_ratio", (n_sym / safe_nw) > p["max_symbol_ratio"]),
        ("bullet_lines", bullet_frac > p["max_bullet_line_frac"]),
        ("ellipsis_lines", ellipsis_frac > p["max_ellipsis_line_frac"]),
        ("alpha_ratio", alpha_frac < p["min_alpha_word_frac"]),
        ("stop_words", n_stop < p["min_stop_words"]),
        ("min_sentences", n_sentences < p["min_sentences"]),
        ("placeholder_text", placeholder),
    ]
    reasons = F.filter(
        F.array(
            *[F.when(cond, F.lit(name)) for name, cond in checks]
        ),
        lambda x: x.isNotNull(),
    )
    return staged.select(
        *[F.col(c) for c in id_cols],
        (F.size(reasons) == 0).alias("keep"),
        reasons.alias("reasons"),
    )


def rule_filter_sql(
    t_expr: str = "text",
    table: str = "documents",
    id_cols: str = "doc_id",
    params: dict | None = None,
) -> str:
    """DuckDB twin of rule_filter_select (same rules, same order)."""
    p = {**RULE_DEFAULTS, **(params or {})}
    stops = ", ".join(f"'{s}'" for s in _STOP_WORDS)
    return f"""
WITH staged AS (
  SELECT {id_cols},
         coalesce({t_expr}, '') AS t,
         lower(coalesce({t_expr}, '')) AS lo,
         list_filter(regexp_split_to_array(coalesce({t_expr}, ''), '\\s+'),
                     x -> x <> '') AS w,
         list_filter(list_transform(string_split(coalesce({t_expr}, ''), chr(10)),
                     x -> trim(x)), x -> x <> '') AS ln
  FROM {table}),
m AS (
  SELECT *,
         len(w) AS nw, len(ln) AS nl,
         greatest(len(w), 1) AS snw, greatest(len(ln), 1) AS snl,
         coalesce(list_sum(list_transform(w, x -> length(x))), 0)::DOUBLE
           / greatest(len(w), 1) AS mean_wl,
         (length(t) - length(regexp_replace(t, '[#…]', '', 'g'))
          + (length(t) - length(regexp_replace(t, '\\.\\.\\.', '', 'g'))) / 3.0
         ) AS n_sym,
         len(list_filter(ln, x -> regexp_matches(x, '^[-*•]')))::DOUBLE
           / greatest(len(ln), 1) AS bullet_frac,
         len(list_filter(ln, x -> regexp_matches(x, '(\\.\\.\\.|…)$')))::DOUBLE
           / greatest(len(ln), 1) AS ellipsis_frac,
         len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
           / greatest(len(w), 1) AS alpha_frac,
         len(list_intersect(
             list_distinct(list_filter(regexp_split_to_array(lo, '[^a-z]+'),
                                       x -> x <> '')),
             [{stops}])) AS n_stop,
         len(list_filter(list_transform(regexp_split_to_array(t, '[.!?]'),
             x -> trim(x)), x -> x <> '')) AS n_sentences,
         (lo LIKE '%lorem ipsum%' OR lo LIKE '%{{%') AS placeholder
  FROM staged),
r AS (
  SELECT {id_cols},
         list_filter([
           CASE WHEN nw < {p['min_words']} OR nw > {p['max_words']}
                THEN 'word_count' END,
           CASE WHEN mean_wl < {p['min_mean_word_len']}
                  OR mean_wl > {p['max_mean_word_len']}
                THEN 'mean_word_len' END,
           CASE WHEN n_sym / snw > {p['max_symbol_ratio']}
                THEN 'symbol_ratio' END,
           CASE WHEN bullet_frac > {p['max_bullet_line_frac']}
                THEN 'bullet_lines' END,
           CASE WHEN ellipsis_frac > {p['max_ellipsis_line_frac']}
                THEN 'ellipsis_lines' END,
           CASE WHEN alpha_frac < {p['min_alpha_word_frac']}
                THEN 'alpha_ratio' END,
           CASE WHEN n_stop < {p['min_stop_words']} THEN 'stop_words' END,
           CASE WHEN n_sentences < {p['min_sentences']} THEN 'min_sentences' END,
           CASE WHEN placeholder THEN 'placeholder_text' END
         ], x -> x IS NOT NULL) AS reasons
  FROM m)
SELECT {id_cols}, len(reasons) = 0 AS keep, reasons FROM r
""".strip()


# ---------------------------------------------------------------------------
# model-based quality classifier: hashed-unigram logistic regression
#
# The LEARNED layer real corpus builds stack on top of the heuristic
# filters (quality_score / rule_filter): a fastText-style linear model
# over hashed token features, trained offline by
# scripts/gen_quality_weights.py on synthesized positives (sentence-
# structured pseudo-English) vs the four junk archetypes (char soup,
# repetition, digit/symbol noise, keyword stuffing) and committed as
# resources/quality_lr.tsv. Weights are integer MICRO-logits, so both
# engines aggregate exact integers and the keep decision is
# engine-independent (same float policy as unigram_logprob); the mean
# logit uses one floor-division at the end. Like any hashed bag-of-words
# model it is LEXICON-BOUND: deploying on a new domain means re-running
# the trainer over that domain's positives/negatives (the fixture is the
# demonstration artifact, not a universal English model).
#
# Scale shape: explode + pmod(h32) bucket + ONE broadcast join against the
# ≤1024-row weight table + one partial-agg shuffle keyed by doc id — the
# corpus never joins against anything non-broadcast. Zero-token docs keep
# mean_logit NULL and are dropped (keep=false): a quality classifier has
# no evidence either way, and empty docs belong to the length rules.
# ---------------------------------------------------------------------------

_QLR_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "resources",
    "quality_lr.tsv",
)

_QLR_CACHE: tuple[int, int, list[tuple[int, int]]] | None = None


def load_quality_lr(path: str = _QLR_PATH) -> tuple[int, int, list[tuple[int, int]]]:
    """(dim, bias_micro, [(bucket, w_micro)...]) from the committed fixture."""
    global _QLR_CACHE
    if path == _QLR_PATH and _QLR_CACHE is not None:
        return _QLR_CACHE
    dim, bias = 0, 0
    rows: list[tuple[int, int]] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            if line.startswith("#dim"):
                dim = int(line.split("\t")[1])
            elif line.startswith("#bias"):
                bias = int(line.split("\t")[1])
            elif not line.startswith("#"):
                b, w = line.split("\t")
                rows.append((int(b), int(w)))
    out = (dim, bias, rows)
    if path == _QLR_PATH:
        _QLR_CACHE = out
    return out


def _clf_tokens(col: Column) -> Column:
    # the trainer's tokenizer, verbatim: [a-z0-9]+ runs of lowercased text
    return F.filter(F.split(F.lower(col), "[^a-z0-9]+"), lambda x: x != "")


def quality_classifier(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, n_clf_tokens, mean_logit_micro, quality_keep): mean hashed-
    unigram logit in integer micro-units plus the keep decision
    (mean logit + bias > 0). See block comment for the scale shape."""
    spark = docs.sparkSession
    dim, bias, rows = load_quality_lr()
    wtab = spark.createDataFrame(rows, "bucket long, w_micro long")
    e = docs.select(
        F.col(id_col), F.explode(_clf_tokens(F.col(text_col))).alias("_t")
    ).select(id_col, F.pmod(h32(F.col("_t")), F.lit(dim)).alias("bucket"))
    g = (
        e.join(F.broadcast(wtab), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_clf_tokens"),
            F.sum(F.coalesce(F.col("w_micro"), F.lit(0))).alias("_z"),
        )
    )
    scored = g.select(
        F.col(id_col),
        "n_clf_tokens",
        F.floor(F.col("_z") / F.col("n_clf_tokens")).alias("mean_logit_micro"),
    ).select(
        id_col,
        "n_clf_tokens",
        "mean_logit_micro",
        (F.col("mean_logit_micro") + F.lit(bias) > 0).alias("quality_keep"),
    )
    # zero-token docs vanish in the explode; re-attach them via a cheap
    # codegen'd filter + UNION, NOT a corpus-wide join (a left join back
    # to docs is a full SortMergeJoin shuffle at scale — found in the
    # PLANS.md audit)
    empties = docs.where(
        # size() is NULL for null text (post-3.0 default), 0 for
        # token-less text — both are evidence-free docs
        F.coalesce(F.size(_clf_tokens(F.col(text_col))), F.lit(0)) <= 0
    ).select(
        F.col(id_col),
        F.lit(0).cast("long").alias("n_clf_tokens"),
        F.lit(None).cast("long").alias("mean_logit_micro"),
        F.lit(False).alias("quality_keep"),
    )
    return scored.unionByName(empties)


def quality_classifier_sql(
    src: str = "SELECT doc_id, text FROM documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin over the SAME fixture rows as a VALUES table — same
    tokenizer, hash, integer aggregation, floor division, and decision."""
    dim, bias, rows = load_quality_lr()
    values = ", ".join(f"({b}, {w})" for b, w in rows)
    return f"""
WITH src AS ({src}),
tok AS (SELECT {id_col},
               unnest(list_filter(regexp_split_to_array(lower(text),
                      '[^a-z0-9]+'), x -> x <> '')) AS t
        FROM src),
bk AS (SELECT {id_col}, {h32_sql('t')} % {dim} AS bucket FROM tok),
w AS (SELECT * FROM (VALUES {values}) AS t(bucket, w_micro)),
g AS (SELECT {id_col}, count(*) AS n_clf_tokens,
             sum(coalesce(w_micro, 0)) AS z
      FROM bk LEFT JOIN w USING (bucket) GROUP BY {id_col}),
sc AS (SELECT {id_col}, n_clf_tokens,
              -- floor(float-div), NOT '//': DuckDB '//' truncates toward
              -- zero on negatives while Spark F.floor(a/b) floors; both
              -- engines' '/' is the same IEEE double divide, so
              -- floor-of-divide is bit-identical
              floor(z / n_clf_tokens)::BIGINT AS mean_logit_micro
       FROM g)
SELECT src.{id_col},
       coalesce(sc.n_clf_tokens, 0) AS n_clf_tokens,
       sc.mean_logit_micro,
       coalesce(sc.mean_logit_micro + {bias} > 0, FALSE) AS quality_keep
FROM src LEFT JOIN sc USING ({id_col})
""".strip()


# ---------------------------------------------------------------------------
# rule-filter audit report: per-rule fire rates over a corpus — the
# diagnostic every filtering run publishes (which rule drops how much, and
# whether a config change silently nukes the corpus). One explode + one
# groupBy on the (tiny) reason key; the corpus total rides a broadcast
# 1-row crossJoin (the corpus_clean totals pattern), so the corpus itself
# shuffles only the exploded reason rows.
# ---------------------------------------------------------------------------


def rule_filter_report(rf: DataFrame) -> DataFrame:
    """(reason, n_docs, frac) over rule_filter_select output: one row per
    fired rule, plus the synthetic '__kept__' and '__dropped__' totals
    (dropped docs count once under '__dropped__' AND once per fired rule —
    rules overlap, so per-rule fracs don't sum to the drop rate)."""
    tot = rf.agg(F.count("*").cast("long").alias("_n"))
    reasons = rf.select(
        F.explode(
            F.when(F.col("keep"), F.array(F.lit("__kept__"))).otherwise(
                F.concat(F.col("reasons"), F.array(F.lit("__dropped__")))
            )
        ).alias("reason")
    )
    counted = reasons.groupBy("reason").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    return counted.crossJoin(F.broadcast(tot)).select(
        "reason",
        "n_docs",
        (F.col("n_docs").cast("double") / F.col("_n").cast("double")).alias(
            "frac"
        ),
    )


def rule_filter_report_sql(rf_sql: str) -> str:
    """DuckDB twin over the rule_filter_sql subquery."""
    return f"""
WITH rf AS ({rf_sql}),
tot AS (SELECT count(*)::BIGINT AS n FROM rf),
r AS (SELECT unnest(CASE WHEN keep THEN ['__kept__']
                         ELSE list_concat(reasons, ['__dropped__']) END
      ) AS reason FROM rf)
SELECT reason, count(*)::BIGINT AS n_docs,
       (count(*)::BIGINT)::DOUBLE / n::DOUBLE AS frac
FROM r CROSS JOIN tot GROUP BY reason, n
""".strip()


# ---------------------------------------------------------------------------
# web-junk signals (the Dolma / RedPajama-v2 signal-sheet residue the rule
# filter does not cover): placeholder text, scraping-wall notices, and the
# zlib compression ratio.
#
# The flag trio is ONE codegen'd projection with an exact DuckDB twin (the
# patterns are RE2-safe literals). The compression ratio needs zlib, which
# no SQL engine exposes — it is an Arrow-batched stage, golden-tested
# against the direct zlib call per the board convention (SURVEY §5.2).
# A LOW ratio (text compresses extremely well) marks template/repeated
# machine text; a ratio near 1 marks binary-garbage-in-text fields.
# ---------------------------------------------------------------------------

_JUNK_PATTERNS: list[tuple[str, str]] = [
    # (flag name, RE2-safe case-insensitive pattern)
    ("lorem_ipsum", r"(?i)lorem ipsum"),
    ("javascript_wall", r"(?i)(enable javascript|javascript is (required|disabled))"),
    ("cookie_notice", r"(?i)(we use cookies|accept (all )?cookies|cookie policy)"),
    ("paywall", r"(?i)(subscribe to (read|continue)|to continue reading)"),
    ("placeholder", r"(?i)(under construction|coming soon|page not found|404 error)"),
]


def junk_flags(col: Column) -> Column:
    """array<string> of fired web-junk flag names (empty when clean)."""
    flags = [
        F.when(col.rlike(pat), F.lit(name)) for name, pat in _JUNK_PATTERNS
    ]
    return F.filter(F.array(*flags), lambda x: x.isNotNull())


def junk_flags_sql(expr: str) -> str:
    branches = ", ".join(
        f"CASE WHEN regexp_matches({expr}, '{pat}') THEN '{name}' END"
        for name, pat in _JUNK_PATTERNS
    )
    return f"list_filter([{branches}], x -> x IS NOT NULL)"


def compression_ratio_df(
    docs, id_col: str = "doc_id", text_col: str = "text", level: int = 6
):
    """(id_col, n_bytes, n_compressed, ratio_ppm) per doc — zlib level-6
    deflate over utf-8 bytes, ratio quantized to integer ppm (the corpus
    float policy). Null/empty text yields null metrics. ONE mapInArrow
    stage, zero shuffle."""
    import pyarrow as pa
    import zlib

    def gen(batches):
        for batch in batches:
            ids = batch.column(id_col)
            texts = batch.column(text_col).to_pylist()
            nb, nc, ppm = [], [], []
            for t in texts:
                if not t:
                    nb.append(None), nc.append(None), ppm.append(None)
                    continue
                raw = t.encode("utf-8")
                comp = zlib.compress(raw, level)
                nb.append(len(raw))
                nc.append(len(comp))
                ppm.append(len(comp) * 1_000_000 // len(raw))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(nb, pa.int64()), pa.array(nc, pa.int64()),
                 pa.array(ppm, pa.int64())],
                ["doc_id", "n_bytes", "n_compressed", "ratio_ppm"],
            )

    out_schema = f"{id_col} {dict(docs.dtypes)[id_col]}, n_bytes long, n_compressed long, ratio_ppm long"
    return docs.select(id_col, text_col).mapInArrow(gen, schema=out_schema)


# ---------------------------------------------------------------------------
# C4-style term blocklist (Raffel et al. 2020 §2.2: drop any page containing
# a word from a banned-term list). Two Spark-first shapes, both codegen'd,
# zero shuffle, exact DuckDB twins:
#
#   * regex path (`term_blocklist_df`) — ONE alternation regex over
#     lower(text), so multi-word phrases work and the matched term is
#     reported for auditability. Alternatives are ordered longest-first:
#     Java regex picks the first alternative at the leftmost position while
#     RE2 (DuckDB) picks the longest, so longest-first makes both engines
#     return the same term. Right size: lists up to ~1k terms (the public
#     C4 list is ~400/language) — the pattern is built once driver-side.
#   * token path (`term_blocklist_token_df`) — tokenize with the corpus
#     token pattern and intersect against the (small, literal) term array;
#     single-word terms only, but no regex-size ceiling and the match is
#     a hash probe, not an automaton scan.
#
# Case handling is explicit lower() on BOTH engines (terms must be
# lowercase) — no reliance on (?i) dialect folding.
# ---------------------------------------------------------------------------

_TERM_RE = __import__("re").compile(r"^[a-z0-9][a-z0-9' -]*$")


def _blocklist_pattern(terms: list[str]) -> str:
    """Longest-first alternation with word boundaries. Terms are restricted
    to [a-z0-9' -] so the pattern is literal-safe in BOTH regex dialects
    (no metacharacters to escape) and in a single-quoted SQL literal after
    apostrophe doubling."""
    if not terms:
        raise ValueError("term blocklist is empty")
    for t in terms:
        if not _TERM_RE.match(t):
            raise ValueError(
                f"blocklist term {t!r} must be lowercase [a-z0-9' -]"
            )
    ordered = sorted(set(terms), key=lambda t: (-len(t), t))
    return r"\b(" + "|".join(ordered) + r")\b"


def term_blocklist_df(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, blocked, matched_term) per doc. matched_term is the first
    blocked term in the text (leftmost, longest at ties); null when clean
    or when text is null. blocked is false for null text (null text is a
    shape problem, not a content violation — rule_filter owns that)."""
    pat = _blocklist_pattern(terms)
    matched = F.nullif(
        F.regexp_extract(F.lower(F.col(text_col)), pat, 1), F.lit("")
    )
    return docs.select(
        F.col(id_col),
        matched.isNotNull().alias("blocked"),
        matched.alias("matched_term"),
    )


def term_blocklist_sql(
    terms: list[str],
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    pat = _blocklist_pattern(terms).replace("'", "''")
    m = f"nullif(regexp_extract(lower({text_col}), '{pat}', 1), '')"
    return (
        f"SELECT {id_col}, {m} IS NOT NULL AS blocked, {m} AS matched_term "
        f"FROM {table}"
    )


def term_blocklist_filter(
    docs: DataFrame,
    terms: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Docs with no blocked term (null text kept — see term_blocklist_df).
    ONE codegen'd predicate at the scan; no join, no shuffle."""
    pat = _blocklist_pattern(terms)
    return docs.where(
        ~F.coalesce(F.lower(F.col(text_col)).rlike(pat), F.lit(False))
    )


def term_blocklist_filter_sql(
    terms: list[str],
    table: str = "documents",
    text_col: str = "text",
) -> str:
    pat = _blocklist_pattern(terms).replace("'", "''")
    return (
        f"SELECT * FROM {table} WHERE NOT coalesce("
        f"regexp_matches(lower({text_col}), '{pat}'), false)"
    )


def term_blocklist_token_df(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-intersection variant: (id_col, blocked). Single-word terms
    only (tokens come from the corpus token pattern [a-z']+, so digits/
    hyphens/spaces in a term can never match — rejected up front)."""
    import re as _re

    for t in terms:
        if not _re.match(r"^[a-z']+$", t):
            raise ValueError(
                f"token path needs single-word [a-z'] terms, got {t!r}"
            )
    from ocr_spark.operators.corpus_clean import _TOKEN_PATTERN

    words = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(_TOKEN_PATTERN), 0
    )
    return docs.select(
        F.col(id_col),
        F.coalesce(
            F.arrays_overlap(
                words, F.array(*[F.lit(t) for t in sorted(set(terms))])
            ),
            F.lit(False),
        ).alias("blocked"),
    )


def term_blocklist_token_sql(
    terms: list[str],
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    from ocr_spark.operators.corpus_clean import _TOKEN_PATTERN

    lits = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    pat = _TOKEN_PATTERN.replace("'", "''")
    return (
        f"SELECT {id_col}, coalesce(len(list_intersect("
        f"regexp_extract_all(lower({text_col}), '{pat}'), "
        f"[{lits}])) > 0, false) AS blocked FROM {table}"
    )
