"""Plan lint: the top-K cuts over vocab and gram tables (ngram_lm._prune,
corpus_clean.unigram_logprob, bpe.corpus_word_counts) plan as
TakeOrderedAndProject, never as a Window without partitionBy, which would
pull the whole table into one partition."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ocr_spark.functions.bpe import corpus_word_counts
from ocr_spark.operators.corpus_clean import unigram_logprob
from ocr_spark.operators.ngram_lm import train_ngram_lm

CORPUS = [
    (1, "the cat sat on the mat and the cat sat again"),
    (2, "a dog sat on a log by the mat"),
    (3, "the quick brown fox jumps over the lazy dog"),
    (4, "cats and dogs and logs and mats"),
]


def _executed_plan(df: DataFrame) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_topk_plans_have_no_window(spark, monkeypatch):
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    lm = train_ngram_lm(df, top_unigrams=3, top_bigrams=3, top_trigrams=3, min_count=1)
    plans = {
        f"ngram_lm.{name}": _executed_plan(table)
        for name, table in (("uni", lm.uni), ("bi", lm.bi), ("tri", lm.tri))
    }
    plans["unigram_logprob"] = _executed_plan(unigram_logprob(df, top_vocab=3))

    # corpus_word_counts collects internally: record the plan it executes
    collected: list[str] = []
    cls = type(df)
    collect = cls.collect

    def spy(self):
        rows = collect(self)
        collected.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    assert len(corpus_word_counts(df, top_words=3)) == 3
    monkeypatch.undo()
    assert len(collected) == 1
    plans["bpe.corpus_word_counts"] = collected[0]

    for name, plan in plans.items():
        assert "Window" not in plan, f"{name}:\n{plan}"
        assert "TakeOrderedAndProject" in plan, f"{name}:\n{plan}"
