"""Corpus-cleaning operators (corpus_clean.py) against pure-Python
reference implementations, plus inline/join path equivalence and edge cases."""

from __future__ import annotations

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from ocr_spark.operators.corpus_clean import (
    chunk_docs,
    frequent_line_keys,
    line_dedup,
    stratified_sample,
    unigram_logprob,
)

# ---------------------------------------------------------------------------
# pure-Python references
# ---------------------------------------------------------------------------


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _h32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _norm(line: str) -> str:
    return re.sub(r"\s+", " ", line).strip().lower()


def ref_line_dedup(docs: list[tuple[str, str]], min_docs: int):
    per_doc_keys = {}
    for did, text in docs:
        per_doc_keys[did] = {
            _h60(_norm(x)) for x in text.split("\n") if _norm(x) != ""
        }
    from collections import Counter

    cnt = Counter(k for ks in per_doc_keys.values() for k in ks)
    freq = {k for k, c in cnt.items() if c >= min_docs}
    out = {}
    for did, text in docs:
        lines = text.split("\n")
        kept = [
            x for x in lines if _norm(x) == "" or _h60(_norm(x)) not in freq
        ]
        out[did] = ("\n".join(kept), len(lines), len(lines) - len(kept))
    return out


def ref_chunks(text: str, chunk: int, overlap: int):
    toks = text.split()
    if not toks:
        return []
    stride = chunk - overlap
    out = []
    start = 1
    limit = max(len(toks) - overlap, 1)
    while start <= limit:
        sl = toks[start - 1 : start - 1 + chunk]
        out.append(((start - 1) // stride, start, len(sl), " ".join(sl)))
        start += stride
    return out


DOCS = [
    ("a", "All Rights  Reserved\nalpha beta\ngamma delta\nCookie notice"),
    ("b", "all rights reserved\nepsilon zeta\nCOOKIE NOTICE"),
    ("c", "unique only here\nall  RIGHTS reserved"),
    ("d", "totally distinct\n\n  \n"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


# ---------------------------------------------------------------------------
# line dedup
# ---------------------------------------------------------------------------


def test_frequent_line_keys(spark, docs_df):
    keys = {r[0] for r in frequent_line_keys(docs_df, min_docs=2).collect()}
    # 'all rights reserved' in 3 docs, 'cookie notice' in 2
    assert keys == {_h60("all rights reserved"), _h60("cookie notice")}


def _force_join(monkeypatch):
    """A frequent-key cut of -1 sends every line_dedup call down the join
    path; the fixtures' frequent sets fit the inline cut by default."""
    from ocr_spark.operators import corpus_clean

    monkeypatch.setattr(corpus_clean, "_INLINE_MAX_LINES", -1)


@pytest.mark.parametrize("strategy", ["inline", "join"])
def test_line_dedup_matches_reference(spark, docs_df, strategy, monkeypatch):
    if strategy == "join":
        _force_join(monkeypatch)
    ref = ref_line_dedup(DOCS, min_docs=2)
    got = {
        r["doc_id"]: (r["text"], r["n_lines"], r["n_dropped"])
        for r in line_dedup(docs_df, min_docs=2).collect()
    }
    assert got == ref
    # every input doc present, even all-dropped/blank ones
    assert set(got) == {d for d, _ in DOCS}


def test_line_dedup_blank_lines_never_dropped(spark, docs_df):
    out = {
        r["doc_id"]: r["text"]
        for r in line_dedup(docs_df, min_docs=1).collect()
    }
    # min_docs=1 drops every non-empty normalized line everywhere, but
    # blank/whitespace-only lines survive verbatim
    assert out["d"] == "\n  \n"


def test_line_dedup_auto_falls_back_to_join(spark, docs_df, monkeypatch):
    # a frequent set over the inline cut must silently use the join path
    # (the only plan with a join), same answer as the inline path
    from ocr_spark.operators import corpus_clean

    b = line_dedup(docs_df, min_docs=2)
    monkeypatch.setattr(corpus_clean, "_INLINE_MAX_LINES", 1)
    a = line_dedup(docs_df, min_docs=2)
    plan = lambda df: df._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan(a) and "Join" not in plan(b)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------


def test_chunk_docs_matches_reference(spark):
    rows = [
        ("a", " ".join(f"t{i}" for i in range(10))),
        ("b", "one"),
        ("c", ""),
        ("d", "   "),
        ("e", " ".join(f"w{i}" for i in range(4))),  # n == chunk size
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in chunk_docs(df, chunk_tokens=4, overlap=2).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["start_token"], r["n_chunk_tokens"], r["chunk_text"])
        )
    for did, text in rows:
        assert got.get(did, []) == ref_chunks(text, 4, 2), did
    # zero-token docs emit nothing
    assert "c" not in got and "d" not in got


def test_chunk_docs_no_pure_overlap_tail(spark):
    # 10 tokens, chunk 8, overlap 4 -> starts 1 and 5 only (start 9 would
    # add no tokens beyond position 12 > n... actually covers 9-10 which
    # chunk 2 already covered entirely)
    df = spark.createDataFrame(
        [("a", " ".join(str(i) for i in range(1, 11)))], ["doc_id", "text"]
    )
    rows = chunk_docs(df, chunk_tokens=8, overlap=4).collect()
    assert [r["start_token"] for r in rows] == [1, 5]
    assert rows[1]["chunk_text"] == "5 6 7 8 9 10"


def test_chunk_docs_validates_overlap(spark):
    df = None
    with pytest.raises(ValueError):
        chunk_docs(df, chunk_tokens=4, overlap=4)
    with pytest.raises(ValueError):
        chunk_docs(df, chunk_tokens=4, overlap=-1)


# ---------------------------------------------------------------------------
# unigram surprisal
# ---------------------------------------------------------------------------


def test_unigram_logprob_reference(spark):
    import math

    rows = [("a", "the cat sat"), ("b", "the the dog"), ("c", "???")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in unigram_logprob(df, top_vocab=2).collect()}
    # corpus: the=3 cat=1 sat=1 dog=1 -> T=6 V=4; vocab top2 by (c desc,
    # tok asc): the(3), cat(1)
    T, V = 6, 4

    def lp(c):
        return math.floor(math.log((c + 1) / (T + V)) * 1e6)

    a = [lp(3), lp(1), lp(0)]  # the cat sat(OOV)
    b = [lp(3), lp(3), lp(0)]  # the the dog(OOV)
    assert out["a"]["n_tokens"] == 3
    assert out["a"]["sum_lp_micronat"] == sum(a)
    assert out["b"]["sum_lp_micronat"] == sum(b)
    assert out["a"]["avg_lp_micronat"] == sum(a) / 3
    # '???' has no [a-z']+ tokens -> no row
    assert "c" not in out


def test_unigram_logprob_ranks_deterministically(spark):
    # tie at the vocab boundary: cat/dog both count 1; top_vocab=2 keeps
    # 'the' + the lexicographically smaller tie ('cat')
    rows = [("a", "the cat"), ("b", "the dog")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in unigram_logprob(df, top_vocab=2).collect()}
    # cat in vocab (c=1), dog OOV (c=0) -> doc a scores higher (less negative)
    assert out["a"]["sum_lp_micronat"] > out["b"]["sum_lp_micronat"]


# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------


def test_stratified_sample_deterministic_and_exact(spark):
    rows = [(i, "en" if i % 4 else "de") for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out1 = stratified_sample(df, target_per_stratum=50).collect()
    out2 = stratified_sample(df, target_per_stratum=50).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    # reference decision per row
    n = {"en": 300, "de": 100}
    kept_ref = {
        (i, lang)
        for i, lang in rows
        if _h32(f"{i}:s0") % 1_000_000 < min(1_000_000, 50_000_000 // n[lang])
    }
    assert {(r["doc_id"], r["stratum"]) for r in out1} == kept_ref
    # small stratum kept at ~target rate, and n_stratum is reported
    for r in out1:
        assert r["n_stratum"] == n[r["stratum"]]


def test_stratified_sample_keeps_all_when_target_exceeds(spark):
    rows = [(i, "xx") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    assert stratified_sample(df, target_per_stratum=1000).count() == 30


def test_stratified_sample_validates(spark):
    with pytest.raises(ValueError):
        stratified_sample(None, target_per_stratum=0)


# ---------------------------------------------------------------------------
# mojibake repair
# ---------------------------------------------------------------------------


def test_mojibake_roundtrip(spark):
    from ocr_spark.functions.text import (
        MOJIBAKE_RULES,
        mojibake_inject,
        mojibake_repair,
    )

    clean = "it’s “fine” — café… «ok» 90° naïve-free"
    df = spark.createDataFrame([(clean,)], ["text"])
    out = df.select(
        mojibake_repair(mojibake_inject(F.col("text"))).alias("rt"),
        mojibake_inject(F.col("text")).alias("inj"),
    ).collect()[0]
    assert out["rt"] == clean
    assert out["inj"] != clean
    # derived table is non-trivial and every rule actually derives from the
    # cp1252 double-encoding
    assert len(MOJIBAKE_RULES) >= 15
    for moji, good in MOJIBAKE_RULES:
        assert good.encode("utf-8").decode("cp1252") == moji


def test_mojibake_repair_noop_on_clean_ascii(spark):
    df = spark.createDataFrame([("plain ascii text, no damage",)], ["text"])
    from ocr_spark.functions.text import mojibake_repair

    assert (
        df.select(mojibake_repair(F.col("text")).alias("t")).collect()[0]["t"]
        == "plain ascii text, no damage"
    )


# ---------------------------------------------------------------------------
# exact-substring (duplicate n-gram span) removal
# ---------------------------------------------------------------------------


def ref_dup_span_removal(docs: list[tuple[int, str | None]], n: int, min_count: int):
    """Pure-Python reference: remove all word positions covered by any word
    n-gram occurring >= min_count times corpus-wide (verbatim match)."""
    from collections import Counter

    words = {
        did: ([w for w in text.split() if w] if text is not None else None)
        for did, text in docs
    }
    cnt = Counter(
        " ".join(w[i : i + n])
        for w in words.values()
        if w
        for i in range(len(w) - n + 1)
    )
    dup = {g for g, c in cnt.items() if c >= min_count}
    out = {}
    for did, text in docs:
        w = words[did]
        if w is None:
            out[did] = (None, 0, 0)
            continue
        cov = set()
        for i in range(len(w) - n + 1):
            if " ".join(w[i : i + n]) in dup:
                cov.update(range(i, i + n))
        kept = [x for i, x in enumerate(w) if i not in cov]
        out[did] = (" ".join(kept), len(w), len(cov))
    return out


def test_dup_span_removal_matches_reference(spark):
    from ocr_spark.operators.corpus_clean import dup_span_removal

    import random

    rng = random.Random(17)
    vocab = [f"t{i}" for i in range(30)]
    shared = "Alpha Beta GAMMA delta Epsilon zeta"
    rows = []
    for i in range(40):
        body = " ".join(rng.choice(vocab) for _ in range(25))
        if i % 4 == 0:
            body = f"{body} {shared}"
        rows.append((i, body))
    rows += [(100, None), (101, ""), (102, shared + " " + shared)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = ref_dup_span_removal(rows, n=6, min_count=2)
    got = {
        r.doc_id: (r.text, r.n_tokens, r.n_removed)
        for r in dup_span_removal(df, n=6, min_count=2).collect()
    }
    assert got == want
    # the planted shared 6-gram really was removed everywhere
    assert all(
        "GAMMA" not in (got[i][0] or "") for i in range(0, 40, 4)
    ) and got[102][0] == ""


def test_dup_span_removal_case_sensitive_verbatim(spark):
    """Exact-substring semantics: case differences are DIFFERENT substrings."""
    from ocr_spark.operators.corpus_clean import dup_span_removal

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "A b c d e f")], "doc_id long, text string"
    )
    got = {r.doc_id: r.n_removed for r in dup_span_removal(df, n=6).collect()}
    assert got == {1: 0, 2: 0}


def test_dup_span_removal_validates_n(spark):
    from ocr_spark.operators.corpus_clean import dup_span_removal

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n="):
        dup_span_removal(df, n=1)


def test_dup_span_removal_giant_covered_doc(spark):
    """A heavily-covered giant doc routes through the array_except branch
    (work product > threshold) and must agree with the reference."""
    from ocr_spark.operators.corpus_clean import dup_span_removal

    giant = " ".join(f"w{i % 7}" for i in range(20000))  # self-repeating
    rows = [(1, giant), (2, "totally unique words here never repeated once more")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = ref_dup_span_removal(rows, n=6, min_count=2)
    got = {
        r.doc_id: (r.text, r.n_tokens, r.n_removed)
        for r in dup_span_removal(df, n=6, min_count=2).collect()
    }
    assert got == want
    assert got[1][2] == 20000  # fully covered


def test_temperature_sample_flattens_shares(spark):
    """T=0 → equal per-stratum sampling RATES toward total/num_strata
    regardless of stratum size; T=1 → one uniform rate (proportional)."""
    from ocr_spark.operators.corpus_clean import temperature_sample, temperature_targets

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    counts = {"big": 900, "small": 100}
    t0 = temperature_targets(counts, 200, 0.0)
    # equal share: ~100 target each -> small stratum keeps everything
    assert t0["small"] == 1_000_000 and t0["big"] < t0["small"]
    t1 = temperature_targets(counts, 200, 1.0)
    assert t1["big"] == t1["small"]  # one uniform rate
    kept = temperature_sample(df, 200, 0.0).groupBy("stratum").count().collect()
    got = {r[0]: r[1] for r in kept}
    assert got["small"] == 100  # fully kept at T=0
    assert 50 <= got["big"] <= 160  # ~100 expected, deterministic hash spread


def test_temperature_sample_validates(spark):
    from ocr_spark.operators.corpus_clean import temperature_targets

    with pytest.raises(ValueError, match="total_target"):
        temperature_targets({"a": 1}, 0, 0.7)
    with pytest.raises(ValueError, match="temperature"):
        temperature_targets({"a": 1}, 10, -1)


# ---------------------------------------------------------------------------
# C4/Gopher heuristic rule filter
# ---------------------------------------------------------------------------


def test_rule_filter_each_rule_fires(spark):
    from pyspark.sql import functions as SF

    from ocr_spark.operators.text_analysis import rule_filter_select

    good = (
        "The quick brown fox jumps over the lazy dog and runs far away. "
        "It was a bright morning with soft light over the hills and fields. "
        "Every villager came out to watch the chase unfold that day. "
    ) * 3  # >50 words, sentences, stopwords, alphabetic
    docs = [
        (0, good, []),
        (1, "short text.", ["word_count", "min_sentences", "stop_words"]),
        (2, good + " ###### " * 20, ["symbol_ratio"]),
        (3, good.replace(". ", "...\n"), ["ellipsis_lines"]),
        (4, "\n".join("- " + w for w in good.split(". ")), ["bullet_lines"]),
        (5, good + " {", ["placeholder_text"]),
        (6, good + " 111 222 333 444 " * 15, ["alpha_ratio"]),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in docs], "doc_id long, text string")
    got = {r.doc_id: (r.keep, list(r.reasons)) for r in
           rule_filter_select(df, SF.col("text")).collect()}
    assert got[0] == (True, [])
    for i, _, expect in docs[1:]:
        keep, reasons = got[i]
        assert not keep and set(expect) <= set(reasons), (i, reasons)


def test_rule_filter_null_and_empty(spark):
    from pyspark.sql import functions as SF

    from ocr_spark.operators.text_analysis import rule_filter_select

    df = spark.createDataFrame([(1, None), (2, "")], "doc_id long, text string")
    got = {r.doc_id: r.keep for r in rule_filter_select(df, SF.col("text")).collect()}
    assert got == {1: False, 2: False}  # degenerate docs never keep


def test_rule_filter_twin_parity_on_symbol_paths(spark, tmp_path):
    """The driver corpus has no #/…/bullet characters, so the DuckDB twin's
    symbol_ratio / bullet_lines / ellipsis_lines branches are only exercised
    here — parquet-backed so newline/unicode escaping is engine-neutral."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as SF

    from ocr_spark.operators.text_analysis import rule_filter_select, rule_filter_sql

    good = "The quick brown fox jumps over the lazy dog and runs far away. " * 10
    docs = [
        (0, good),
        (1, good + " ### … ... ## "),
        (2, good + " # " * 30),
        (3, "• bullet\n- dash\n* star\nplain end..."),
        (4, "\n".join(["- a"] * 19 + ["z"])),
    ]
    p = str(tmp_path / "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs]}), p
    )
    got = sorted(
        (r.doc_id, r.keep, tuple(r.reasons))
        for r in rule_filter_select(
            spark.read.parquet(p), SF.col("text")
        ).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}')")
    orc = sorted((r[0], r[1], tuple(r[2])) for r in con.execute(rule_filter_sql()).fetchall())
    assert got == orc
    assert ("symbol_ratio",) in {r[2] for r in got}  # the branch really fired


class TestRuleFilterReport:
    def test_twin_parity_and_totals(self, spark):
        import duckdb
        import pandas as pd

        from ocr_spark.operators.text_analysis import (
            rule_filter_report,
            rule_filter_report_sql,
            rule_filter_select,
            rule_filter_sql,
        )

        texts = [
            "This is a fine document with enough words and the usual "
            "structure. It has sentences. It has an end.",
            "short",
            "!!! ### ...",
            None,
            "lorem ipsum dolor sit amet and then some more words here "
            "to pass length. Another sentence here.",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        params = {"min_stop_words": 0, "min_sentences": 1, "min_words": 5}
        rf = rule_filter_select(df, F.col("text"), params=params)
        got = {
            r["reason"]: (r["n_docs"], r["frac"])
            for r in rule_filter_report(rf).collect()
        }
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(
            {"doc_id": range(len(texts)), "text": texts}
        ))
        duck = {
            r[0]: (r[1], r[2])
            for r in con.execute(
                rule_filter_report_sql(rule_filter_sql(params=params))
            ).fetchall()
        }
        assert got == duck
        # kept + dropped partition the corpus
        assert got["__kept__"][0] + got["__dropped__"][0] == len(texts)
        assert got["placeholder_text"][0] >= 1
        assert abs(got["__kept__"][1] - got["__kept__"][0] / len(texts)) < 1e-15

    def test_all_kept_report(self, spark):
        from ocr_spark.operators.text_analysis import (
            rule_filter_report,
            rule_filter_select,
        )

        df = spark.createDataFrame(
            [(1, "A perfectly ordinary sentence with plenty of good words "
                 "in it. And one more for sentences.")],
            "doc_id long, text string",
        )
        rf = rule_filter_select(
            df,
            F.col("text"),
            params={"min_stop_words": 0, "min_sentences": 1, "min_words": 5},
        )
        rows = {r["reason"]: r["n_docs"] for r in rule_filter_report(rf).collect()}
        assert rows == {"__kept__": 1}


# ---------------------------------------------------------------------------
# sentence segmentation + paragraph-granularity line dedup (round-5 s10)
# ---------------------------------------------------------------------------


class TestSentenceSplit:
    CASES = [
        (0, "Dr. Smith met J. R. Tolkien. They talked. It was fun!"),
        (1, 'He said "Stop." "Why?" she asked.'),
        (2, "Line one\nLine two. More here? Yes."),
        (3, "U.S.A. is big. e.g. this works, etc. and so on. Final sentence."),
        (4, "Trailing space.   Next one starts! 9 times out of 10."),
        (5, ""),
        (6, None),
        (7, "no terminal punctuation at all"),
    ]

    def test_goldens_spark(self, spark):
        from ocr_spark.functions.text import split_sentences

        df = spark.createDataFrame(self.CASES, "doc_id long, text string")
        got = {
            r.doc_id: r.s
            for r in df.select(
                "doc_id", split_sentences(F.col("text")).alias("s")
            ).collect()
        }
        assert got[0] == [
            "Dr. Smith met J. R. Tolkien.", "They talked.", "It was fun!"
        ]
        assert got[1] == ['He said "Stop."', '"Why?" she asked.']
        assert got[2] == ["Line one", "Line two.", "More here?", "Yes."]
        assert got[3] == [
            "U.S.A. is big. e.g. this works, etc. and so on.",
            "Final sentence.",
        ]
        assert got[4] == [
            "Trailing space.", "Next one starts!", "9 times out of 10."
        ]
        assert got[5] == []
        assert got[6] is None
        assert got[7] == ["no terminal punctuation at all"]

    def test_operator_twin_parity(self, spark, tmp_path):
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ocr_spark.operators.corpus_clean import (
            sentence_split,
            sentence_split_sql,
        )

        p = str(tmp_path / "docs.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": [c[0] for c in self.CASES],
                    "text": [c[1] for c in self.CASES],
                }
            ),
            p,
        )
        got = sorted(
            map(tuple, sentence_split(spark.read.parquet(p)).collect())
        )
        con = duckdb.connect()
        orc = sorted(
            con.execute(
                sentence_split_sql(f"SELECT * FROM read_parquet('{p}')")
            ).fetchall()
        )
        assert got == orc
        assert len(got) > 10

    def test_operator_plan_shuffle_free(self, spark):
        from ocr_spark.operators.corpus_clean import sentence_split

        df = spark.createDataFrame([(0, "A. B.")], "doc_id long, text string")
        plan = (
            sentence_split(df)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestParagraphDedup:
    def test_paragraph_granularity(self, spark):
        from ocr_spark.operators.corpus_clean import line_dedup

        boiler = "Subscribe to our newsletter.\nIt is great."
        docs = [
            (0, f"{boiler}\n\nUnique body zero."),
            (1, f"{boiler}\n\nUnique body one."),
            (2, "Only unique content here.\n\nSecond para."),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.text, r.n_lines, r.n_dropped)
            for r in line_dedup(df, min_docs=2, sep="\n\n").collect()
        }
        # the two-LINE boilerplate paragraph drops as ONE unit
        assert got[0] == ("Unique body zero.", 2, 1)
        assert got[1] == ("Unique body one.", 2, 1)
        assert got[2] == ("Only unique content here.\n\nSecond para.", 2, 0)

    @pytest.mark.parametrize("strategy", ["inline", "join"])
    def test_twin_parity_with_sep(self, spark, tmp_path, strategy, monkeypatch):
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from ocr_spark.operators.corpus_clean import line_dedup, line_dedup_sql

        if strategy == "join":
            _force_join(monkeypatch)
        boiler = "cookie banner text"
        docs = [
            (0, f"{boiler}\n\nalpha."),
            (1, f"{boiler}\n\nbeta."),
            (2, "gamma only.\n\ndelta."),
            (3, None),
            (4, ""),
        ]
        p = str(tmp_path / "docs.parquet")
        pq.write_table(
            pa.table(
                {"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs]}
            ),
            p,
        )
        got = sorted(
            map(
                tuple,
                line_dedup(spark.read.parquet(p), min_docs=2, sep="\n\n").collect(),
            )
        )
        con = duckdb.connect()
        orc = sorted(
            con.execute(
                line_dedup_sql(
                    f"SELECT * FROM read_parquet('{p}')", min_docs=2, sep="\n\n"
                )
            ).fetchall()
        )
        assert got == orc
