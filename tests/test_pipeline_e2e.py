"""End-to-end extraction: Spark pipeline output vs goldens computed by the
independent test-side implementations, compared with exceptAll BOTH ways
(span-sequence equality — SURVEY.md §2.6, BASELINE.json invariant)."""

import pytest
from pyspark.sql import functions as F

from ocr_spark.fixtures import generate_docs
from ocr_spark.pipeline import extract_documents
from ocr_spark.schema import DOC_SCHEMA, OUTPUT_SCHEMA
from ocr_spark.sources.media import synth_media_bytes
from tests import reference_impl as R
from tests import reference_impl_heavy as RH

RULES = [["hte", "the"], ["wrold", "world"], ["Orchestratr", "Orchestrator"], ["dumy", "dummy"]]

N_DOCS = 80


def golden_doc(doc: dict, rules) -> dict:
    """Independent per-doc golden: same written spec, separate code."""
    vrules = R.validate_rules(list(rules))
    spans_out = []
    confs = []
    has_media = False
    for s in sorted(doc["spans"], key=lambda s: s["offset"]):
        kind, text = s["kind"], s["text"]
        if kind == "text":
            text = R.extract_text(text, vrules)
        elif kind == "html":
            text = R.process_output(RH.html_extract(text), vrules)
        elif kind == "pdf":
            text = R.process_output(RH.pdf_extract(text), vrules)
        else:  # ocr / media
            has_media = True
            t, c = RH.media_recognize(synth_media_bytes(s["media_ref"]))
            text = R.process_output(t, vrules)
            confs.append(c)
        spans_out.append(
            {"kind": kind, "text": text, "media_ref": s["media_ref"], "offset": s["offset"]}
        )
    valid = [c for c in confs if c > 0.0]
    conf = (sum(valid) / len(valid) if valid else 0.0) if has_media else None
    return {
        "doc_id": doc["doc_id"],
        "spans": spans_out,
        "confidence": conf,
        "extractor": "ocr_spark",
        "error": None,
        "error_source": None,
    }


@pytest.fixture(scope="module")
def result_and_golden(spark):
    docs = generate_docs(N_DOCS)
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    result = extract_documents(df, rules=RULES)
    golden = spark.createDataFrame([golden_doc(d, RULES) for d in docs], OUTPUT_SCHEMA)
    return result, golden


def test_row_count(result_and_golden):
    result, golden = result_and_golden
    assert result.count() == N_DOCS == golden.count()


def test_span_sequence_equality_except_all_both_ways(result_and_golden):
    result, golden = result_and_golden
    # compare on the invariant columns (confidence compared separately at
    # tolerance — exact float equality across two impls is not the contract)
    cols = ["doc_id", "spans", "extractor", "error", "error_source"]
    a = result.select(cols)
    b = golden.select(cols)
    extra = a.exceptAll(b).collect()
    missing = b.exceptAll(a).collect()
    assert extra == [] and missing == [], (
        f"extra={extra[:2]}\nmissing={missing[:2]}"
    )


def test_confidence_close(result_and_golden):
    result, golden = result_and_golden
    j = (
        result.select("doc_id", F.col("confidence").alias("c1"))
        .join(golden.select("doc_id", F.col("confidence").alias("c2")), "doc_id")
        .collect()
    )
    assert len(j) == N_DOCS
    for r in j:
        if r.c1 is None or r.c2 is None:
            assert r.c1 is None and r.c2 is None, r
        else:
            assert abs(r.c1 - r.c2) < 1e-9, r


def test_output_schema_stable(result_and_golden):
    result, _ = result_and_golden
    assert [f.name for f in result.schema.fields] == [
        "doc_id", "spans", "confidence", "extractor", "error", "error_source",
    ]


def test_salted_repartition_same_result(spark):
    """Salting must not change results, only placement (north-rule skew)."""
    docs = generate_docs(30)
    df = spark.createDataFrame(docs, DOC_SCHEMA)
    a = extract_documents(df, rules=RULES).select("doc_id", "spans")
    b = extract_documents(df, rules=RULES, salt_partitions=6).select("doc_id", "spans")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_span_order_is_offset_order(result_and_golden):
    result, _ = result_and_golden
    bad = result.select(
        F.exists(
            F.zip_with(
                "spans",
                F.slice("spans", 2, 10_000),
                lambda a, b: a["offset"] >= b["offset"],
            ),
            lambda x: x,
        ).alias("disordered")
    ).where("disordered").count()
    assert bad == 0

