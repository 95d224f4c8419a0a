"""Regression tests for the round-4 VERDICT/ADVICE fixes:
- dedup_clusters null-id pairs filtered once so both paths agree
- corpus_pipeline decontamination drop set broadcast-hinted (no corpus
  shuffle for the anti-join)
- corpus_pipeline_sql(quality=) oracle twin for the v2 filter path
(the PDF predictor//Length/octal fixes live in test_pdf_real.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


class TestClustersNullIds:
    def _pairs(self, spark):
        return spark.createDataFrame(
            [(1, 2), (2, 3), (None, 4), (5, None), (None, None), (7, 8)],
            "id_a long, id_b long",
        )

    def test_all_algorithms_drop_null_pairs_identically(self, spark, monkeypatch):
        from ocr_spark.operators import dedup

        expected = {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
        results = {}
        # the default budget resolves this size on the driver; a budget of
        # 0 pairs sends it down the distributed star path
        for budget in (dedup._DRIVER_MAX_PAIRS, 0):
            monkeypatch.setattr(dedup, "_DRIVER_MAX_PAIRS", budget)
            stats: dict = {}
            rows = dedup.dedup_clusters(self._pairs(spark), stats=stats).collect()
            results[stats["algorithm"]] = {(r["id"], r["rep"]) for r in rows}
        assert set(results) == {"driver", "star"}
        for algo, got in results.items():
            assert got == expected, algo


class TestCorpusDeconBroadcast:
    def test_decon_anti_join_is_broadcast(self, spark):
        """The drop set comes from an aggregation; without the explicit
        hint the static plan was SortMergeJoin LeftAnti with an Exchange
        of the corpus side (VERDICT r3 'What's wrong' #2)."""
        from ocr_spark.operators.corpus import corpus_pipeline

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        corpus = docs.where(F.col("doc_id") % 37 != 0)
        eval_docs = docs.where(F.col("doc_id") % 37 == 0)
        out = corpus_pipeline(corpus, eval_docs, min_quality=0.65)
        plan = out._jdf.queryExecution().sparkPlan().toString()
        n_bhj_anti = plan.count("BroadcastHashJoin") and sum(
            1 for ln in plan.splitlines()
            if "BroadcastHashJoin" in ln and "LeftAnti" in ln
        )
        # both drop joins (near-dup clusters AND decontamination) broadcast
        assert n_bhj_anti >= 2, plan
        assert not any(
            "SortMergeJoin" in ln and "LeftAnti" in ln for ln in plan.splitlines()
        ), plan


class TestCorpusSqlQualityKnob:
    def test_rejects_unknown_quality(self):
        from ocr_spark.operators.corpus import corpus_pipeline_sql

        with pytest.raises(ValueError, match="quality"):
            corpus_pipeline_sql(quality="v3")

    @pytest.mark.parametrize("quality", ["v1", "v2"])
    def test_sql_twin_matches_spark(self, spark, quality):
        """corpus_pipeline(quality=) and corpus_pipeline_sql(quality=) must
        keep the identical doc set (ADVICE r3: the SQL hardcoded v1, so a
        v2 bench would silently compare against v1 semantics)."""
        from ocr_spark.operators.corpus import corpus_pipeline, corpus_pipeline_sql

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        corpus = docs.where(F.col("doc_id") % 37 != 0)
        eval_docs = docs.where(F.col("doc_id") % 37 == 0)
        got = {
            r["doc_id"]
            for r in corpus_pipeline(
                corpus, eval_docs, min_quality=0.65, quality=quality
            ).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        )
        sql = corpus_pipeline_sql(
            eval_mod=37, min_quality=0.65, out_cols="doc_id", quality=quality
        )
        want = {r[0] for r in con.execute(sql).fetchall()}
        assert got == want
        if quality == "v2":
            # and v2 actually differs from v1 on this corpus (the knob bites)
            v1 = {
                r["doc_id"]
                for r in corpus_pipeline(
                    corpus, eval_docs, min_quality=0.65, quality="v1"
                ).collect()
            }
            assert v1 != got


def test_corpus_pipeline_dup_span_stage(spark):
    """dup_span_n wires exact-substring removal between dedup and decon:
    the shared boilerplate run disappears from every survivor's text, and
    column order/set is unchanged."""
    from ocr_spark.operators.corpus import corpus_pipeline

    boiler = "Alpha Beta Gamma Delta Epsilon Zeta"
    rows = [
        # the non-boiler prefix must not repeat (within OR across docs):
        # remove-all semantics would correctly delete it too
        (i, f"unique{i} words{i} number {i} marker{i} tail{i} " + boiler,
         "en", "s", 100)
        for i in range(1, 7)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = corpus_pipeline(
        docs, None, min_quality=0.0, dedup_method="exact",
        dup_span_n=6, scrub=False,
    )
    assert out.columns == docs.columns
    texts = {r.doc_id: r.text for r in out.collect()}
    assert texts and all("Gamma" not in t for t in texts.values())
    assert all(f"number {i}" in t for i, t in texts.items())
