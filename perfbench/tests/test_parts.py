"""Tests for the benchmark's own parts: generators, /proc accounting and the
output digest. Run from the checkout root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench import gen, proctree


def test_mixed_generator_repeats_per_seed():
    a, b = gen.gen_mixed(120, seed=5), gen.gen_mixed(120, seed=5)
    assert a == b
    assert gen.gen_mixed(120, seed=6) != a
    assert len(a) == 120 and len({d["doc_id"] for d in a}) == 120


def test_mixed_has_exact_heavy_share_and_stratified_sizes():
    docs = gen.gen_mixed(400, seed=3)
    heavy = [len(d["spans"]) for d in docs if len(d["spans"]) >= gen.HEAVY_MIN_SPANS]
    assert len(heavy) == 20
    assert all(gen.HEAVY_MIN_SPANS <= n <= gen.HEAVY_MAX_SPANS for n in heavy)
    # one draw per stratum: the total stays near the stratum midpoints
    mid = (gen.HEAVY_MIN_SPANS + gen.HEAVY_MAX_SPANS) / 2 * len(heavy)
    assert abs(sum(heavy) - mid) < 0.05 * mid


def test_corpus_generator_repeats_and_plants_counts():
    rows, exp = gen.gen_corpus(300, seed=4)
    assert (rows, exp) == gen.gen_corpus(300, seed=4)
    assert gen.gen_corpus(300, seed=5)[0] != rows
    assert exp["n_corpus"] + exp["n_eval"] == 300
    assert exp["kept"] == exp["kept_dedup"] - exp["contaminated"]
    assert sum("@example.org" in r["text"] for r in rows) == exp["pii_docs"]


def test_cached_input_is_keyed_and_reused(tmp_path):
    p1, m1 = gen.cached_input(str(tmp_path), "extract_mixed", 50, 1)
    mtime = os.path.getmtime(os.path.join(os.path.dirname(p1), "meta.json"))
    p2, m2 = gen.cached_input(str(tmp_path), "extract_mixed", 50, 1)
    assert (p1, m1) == (p2, m2)
    assert os.path.getmtime(os.path.join(os.path.dirname(p2), "meta.json")) == mtime
    p3, _ = gen.cached_input(str(tmp_path), "extract_mixed", 50, 2)
    assert p3 != p1
    assert gen.read_spans_docs(p1) == gen.gen_mixed(50, 1)


_BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_proc_cpu_counts_a_reaped_child():
    before = proctree.cpu_seconds()
    subprocess.run([sys.executable, "-c", _BUSY.format(s=0.6)], check=True)
    used = proctree.cpu_delta(before, proctree.cpu_seconds())
    # the child's time moved into this process's cutime when it was reaped
    assert 0.55 <= used["total"] <= 1.5
    assert used["driver"] == pytest.approx(used["total"])


def test_proc_cpu_counts_a_live_child():
    child = subprocess.Popen([sys.executable, "-c", _BUSY.format(s=30)])
    try:
        time.sleep(0.2)
        before = proctree.cpu_seconds()
        time.sleep(0.8)
        used = proctree.cpu_delta(before, proctree.cpu_seconds())
        assert child.pid in proctree.tree()
    finally:
        child.kill()
        child.wait(timeout=10)
    assert 0.6 <= used["workers"] <= 1.1


def _resident() -> int:
    return sum(proctree.resident_by_role()[r] for r in proctree.ROLES)


def test_peak_rss_sampler_stops():
    sampler = proctree.PeakRss(interval_s=0.05).start()
    time.sleep(0.2)
    peak = sampler.stop()
    assert peak >= _resident() // 2 > 0
    assert not sampler._thread.is_alive()


def test_jvm_heap_sees_a_persisted_frame(spark):
    heap = proctree.JvmHeap(spark)
    heap.reset()
    base = heap.peak()
    df = spark.range(1_000_000).selectExpr("id", "uuid() AS s").persist()
    try:
        df.count()
        # a collection moves the cached blocks out of eden, which is not counted
        spark.sparkContext._jvm.java.lang.System.gc()
        assert heap.peak() > base + 16 * 2**20
    finally:
        df.unpersist(True)
    heap.reset()
    assert heap.peak() < base + 16 * 2**20


def test_digest_ignores_row_order_and_partitioning(spark):
    from pyspark.sql import functions as F

    from perfbench.workloads import digest_of, force, observe_extraction
    from ocr_spark.schema import DOC_SCHEMA

    docs = gen.gen_mixed(60, seed=2)
    df = spark.createDataFrame(docs, DOC_SCHEMA).select(
        "doc_id", "spans", F.lit(None).cast("string").alias("error"),
        F.lit(None).cast("string").alias("error_source"),
    )
    digests = []
    for frame in (df, df.orderBy(F.desc("doc_id")), df.repartition(7, "doc_id")):
        observed, obs = observe_extraction(frame)
        force(observed)
        digests.append(digest_of(obs.get))
    assert len(set(digests)) == 1
    observed, obs = observe_extraction(df.limit(59))
    force(observed)
    assert digest_of(obs.get) != digests[0]


def test_benchmark_json_names_every_reported_metric():
    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
