"""corpus_pipeline builds each stage once: dup_span_removal hands back the
caller's row with the text rewritten in place, so the pipeline needs no
patch join and its output plan reads the cached dup-span frame once (plan
shape), while the DuckDB twin agrees row for row on a corpus where spans
are removed AND docs overlap the eval set (quality v1/v2, driver and star
cluster paths)."""

import random

import duckdb
import pandas as pd
import pytest

from ocr_spark.operators import dedup
from ocr_spark.operators.corpus import (
    corpus_pipeline,
    corpus_pipeline_sql,
    unpersist_stages,
)

EVAL_MOD = 5
BOILER = "Alpha Beta Gamma Delta Epsilon Zeta"
_WORDS = (
    "the of and to in is that it was for on are with as his they be at one "
    "have this from by hot word but what some we can out other were all "
    "there when up use your how said an each she which do their time if "
    "will way about many then them write would like so these her long make "
    "thing see him two has look more day could go come did number sound no "
    "most people my over know water than call first who may down side been "
    "now find"
).split()


def _prose(rng: random.Random, n_sent: int) -> str:
    return " ".join(
        " ".join(rng.choice(_WORDS) for _ in range(rng.randint(8, 14))).capitalize()
        + "."
        for _ in range(n_sent)
    )


def _corpus() -> list[tuple]:
    """Rows (doc_id, text, lang, source, n_chars); doc_id % EVAL_MOD == 0 is
    the eval split. Planted: a boilerplate 6-gram in every third corpus doc
    (dup-span removes it), one exact duplicate (near-dedup drops it), two
    corpus docs each quoting an eval sentence verbatim (decontamination
    drops them), two corpus docs quoting the same eval sentence (it recurs,
    so dup-span removes it first and both docs survive), junk that fails
    the quality filter, and a PII email the scrub rewrites."""
    rng = random.Random(11)
    texts = {i: _prose(rng, 5) for i in range(1, 41)}
    for i in range(1, 41, 3):
        texts[i] += " " + BOILER + " and more closing words here."
    texts[22] = texts[21]  # exact duplicate of a corpus doc
    texts[7] += " Mail me at someone@example.com for the rest."
    texts[13] = "!!! ### $$$ %%% ^^^ &&& *** ((( ))) @@@ ~~~ +++"
    q1 = "the water people could find their long way home again"
    q2 = "each number will make a sound when she writes it down"
    texts[10] = _prose(rng, 2) + " " + q1.capitalize() + ". " + q2.capitalize() + "."
    texts[3] += " " + q1 + "."
    texts[8] += " " + q2 + "."
    shared = "many other day sound was down by the side now"
    texts[15] = _prose(rng, 2) + " " + shared.capitalize() + "."
    texts[17] += " " + shared + "."
    texts[18] += " " + shared + "."
    return [(i, t, "en", f"s{i % 3}", len(t)) for i, t in sorted(texts.items())]


@pytest.fixture(scope="module")
def frames(spark):
    rows = _corpus()
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    con = duckdb.connect()
    con.register("src", pd.DataFrame(rows, columns=docs.columns))
    con.execute("CREATE TABLE documents AS SELECT * FROM src")
    return (
        docs.where(docs.doc_id % EVAL_MOD != 0),
        docs.where(docs.doc_id % EVAL_MOD == 0),
        con,
    )


def _run(corpus, eval_docs, quality):
    stats: dict = {}
    out = corpus_pipeline(
        corpus, eval_docs, min_quality=0.5, quality=quality,
        dedup_method="simhash", max_hamming=3, contamination_n=8,
        dup_span_n=6, stats=stats,
    )
    return out, stats


def _walk(node, seen: list, record=None) -> None:
    """Collect (class name, join type) per node of an executed plan, or
    `record(node)` when given, descending through adaptive query stages and
    reused exchanges but not into cached relations (an InMemoryTableScan's
    relation is an inner child)."""
    name = node.getClass().getSimpleName()
    if record is not None:
        seen.append(record(node))
    else:
        seen.append((name, str(node.joinType()) if "Join" in name else None))
    if name == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [node.plan()]
    elif name == "ReusedExchangeExec":
        kids = [node.child()]
    else:
        ch = node.children()
        kids = [ch.apply(i) for i in range(ch.size())]
    for k in kids:
        _walk(k, seen, record)


def test_output_plan_reads_the_cached_stage_once(spark, frames):
    corpus, eval_docs, _ = frames
    out, stats = _run(corpus, eval_docs, "v1")
    out.collect()
    seen: list = []
    _walk(out._jdf.queryExecution().executedPlan(), seen)
    unpersist_stages(stats)
    names = [n for n, _ in seen]
    # the scrub Project over ONE left-anti join (decontamination) whose
    # probe side is the cached dup-span frame; its broadcast build side
    # shingles that same cached frame against the eval shingles (the
    # contamination Inner join). Nothing else: no patch join, and the
    # dup-span gram explode, count and coverage stay inside the cache, so
    # the only Generates are the corpus and eval shingle explodes. (The
    # patch-join plan held 6 joins, 8 cached scans and 6 Generates.)
    assert [j for _, j in seen if j] == ["LeftAnti", "Inner"], names
    assert names[names.index("BroadcastHashJoinExec") + 2 :][:2] == [
        "TableCacheQueryStageExec", "InMemoryTableScanExec"
    ], names
    assert names.count("InMemoryTableScanExec") == 2, names
    assert names.count("GenerateExec") == 2, names


@pytest.mark.parametrize("quality", ["v1", "v2"])
@pytest.mark.parametrize("path", ["driver", "star"])
def test_pipeline_equals_sql_twin(spark, frames, monkeypatch, quality, path):
    corpus, eval_docs, con = frames
    if path == "star":
        monkeypatch.setattr(dedup, "_DRIVER_MAX_PAIRS", 0)
    out, stats = _run(corpus, eval_docs, quality)
    assert out.columns == corpus.columns
    got = sorted(tuple(r) for r in out.collect())
    assert stats["algorithm"] == path
    assert unpersist_stages(stats) == 2
    sql = corpus_pipeline_sql(
        eval_mod=EVAL_MOD, min_quality=0.5, max_hamming=3, contamination_n=8,
        quality=quality, dup_span_n=6,
    )
    want = sorted(con.execute(sql).fetchall())
    assert got == want
    kept = {r[0]: r[1] for r in got}
    # every planted effect shows: junk, the duplicate and the two quoting
    # docs are gone; boilerplate and the shared run are cut; PII scrubbed
    assert 13 not in kept and 22 not in kept
    assert 3 not in kept and 8 not in kept
    assert 17 in kept and "sound was down by" not in kept[17]
    assert all(BOILER not in t for t in kept.values())
    assert "someone@example.com" not in kept[7]


def test_exact_dedup_method_keeps_input_columns(spark, frames):
    """dedup_method='exact' without dup_span_n returns the input's columns:
    exact_dedup's fingerprint column stays inside near_dedup."""
    corpus, eval_docs, _ = frames
    assert dedup.near_dedup(corpus, method="exact").columns == corpus.columns
    stats: dict = {}
    out = corpus_pipeline(
        corpus, eval_docs, min_quality=0.5, dedup_method="exact", stats=stats
    )
    assert out.columns == corpus.columns
    assert out.count() > 0
    unpersist_stages(stats)
