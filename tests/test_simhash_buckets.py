"""simhash_near_pairs computes each signature once and is cheap to build:
the pigeonhole chunk keys are aggregated by bucket (no self-join), so the
executed plan holds one partial aggregation of the signature; the wide
signature and chunk-key expressions go to the JVM as SQL text, so building
the frame sends a few hundred Py4J commands, not thousands; and the bucket
pairs equal brute force on a large identical bucket, string ids, and
null or empty texts, ids and signatures."""

import py4j.clientserver
from test_corpus_pipeline_shape import _walk

from ocr_spark.operators.dedup import simhash, simhash_near_pairs

_BASE = "the quick brown fox jumps over the lazy dog near the river bank"


def _rows():
    rows = [(f"d{i:02d}", _BASE + " today") for i in range(32)]
    rows += [
        ("e0", _BASE + " tonight"),
        ("e1", "completely different text about spark catalyst and shuffles"),
        ("e2", "el veloz zorro marron salta sobre el perro perezoso"),
        ("e3", None),
        ("e4", ""),
        (None, _BASE + " today"),
    ]
    return rows


def _docs(spark):
    return spark.createDataFrame(_rows(), "doc_id string, text string")


def _brute(sig: dict, k: int) -> dict:
    ids = sorted(i for i in sig if i is not None and sig[i] is not None)
    return {
        (a, b): bin(sig[a] ^ sig[b]).count("1")
        for x, a in enumerate(ids)
        for b in ids[x + 1 :]
        if bin(sig[a] ^ sig[b]).count("1") <= k
    }


def test_plan_aggregates_the_signature_once(spark):
    docs = _docs(spark).persist()
    pairs = simhash_near_pairs(docs)
    pairs.collect()
    seen: list = []
    _walk(
        pairs._jdf.queryExecution().executedPlan(),
        seen,
        lambda n: (n.getClass().getSimpleName(), n.simpleString(1000)),
    )
    docs.unpersist()
    names = [n for n, _ in seen]
    # the self-join planned the signature aggregation once per side
    partial_sig = [s for _, s in seen if "partial_sum" in s]
    assert len(partial_sig) == 1, names
    assert not [n for n in names if "Join" in n], names


def test_build_sends_few_py4j_commands(spark, monkeypatch):
    docs = _docs(spark)
    sent = []
    orig = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return orig(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting
    )
    simhash_near_pairs(docs)
    monkeypatch.undo()
    # Column trees for 60 votes, their weighted sum and the chunk structs
    # took over 8,000 round trips
    assert 0 < len(sent) < 500


def test_bucket_pairs_equal_bruteforce(spark):
    docs = _docs(spark)
    sig = {r.id: r.simhash for r in simhash(docs).collect()}
    # null and empty texts have no tokens, so no signature
    assert "e3" not in sig and "e4" not in sig and None in sig
    got = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(docs).collect()}
    want = _brute(sig, 3)
    assert got == want
    # the 32 identical docs share every bucket: 496 pairs at hamming 0
    assert sum(1 for (a, b), h in got.items() if a[0] == b[0] == "d" and h == 0) == 496


def test_null_ids_and_signatures_join_no_bucket(spark):
    rows = [("a", 5), ("b", 5), ("c", 7), ("d", None), ("e", None), (None, 5)]
    sig = spark.createDataFrame(rows, "id string, simhash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_pairs(None, sig=sig, max_hamming=3).collect()
    }
    assert got == _brute(dict(rows), 3) == {("a", "b"): 0, ("a", "c"): 1, ("b", "c"): 1}
