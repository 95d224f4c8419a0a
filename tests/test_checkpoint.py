"""Resume protocol test (SURVEY.md §5.2 item: kill after partial write,
restart, assert no dup/no loss via manifest anti-join)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ocr_spark.checkpoint import completed_buckets, remaining_input, run_resumable
from ocr_spark.fixtures import generate_docs
from ocr_spark.schema import DOC_SCHEMA

N_DOCS = 60
N_BUCKETS = 8


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(generate_docs(N_DOCS), DOC_SCHEMA)


def _force_scan(monkeypatch):
    """Footers without statistics: run_resumable falls back to re-reading
    the written buckets."""
    import ocr_spark.checkpoint as cp

    monkeypatch.setattr(cp, "_bucket_stats_from_footers", lambda out_dir, candidates: None)


@pytest.mark.parametrize("verify", ["metadata", "scan"])
def test_full_run_then_resume_noop(spark, docs_df, tmp_path, verify, monkeypatch):
    if verify == "scan":
        _force_scan(monkeypatch)
    out = str(tmp_path / "out")
    stats = run_resumable(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    assert stats["n_docs"] == N_DOCS
    assert len(completed_buckets(out)) == len(stats["buckets_written"])

    # all buckets complete → resume processes nothing
    todo = remaining_input(spark, docs_df, out, N_BUCKETS)
    assert todo.count() == 0

    stats2 = run_resumable(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r2")
    assert stats2["n_docs"] == 0

    final = spark.read.parquet(out)
    assert final.count() == N_DOCS
    assert final.select("doc_id").distinct().count() == N_DOCS


def test_crash_resume_no_dup_no_loss(spark, docs_df, tmp_path):
    out = str(tmp_path / "out")
    run_resumable(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    golden = {
        (r["doc_id"], tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]))
        for r in spark.read.parquet(out).collect()
    }

    # simulate a crash: two buckets lose their manifest, one of them also has
    # partial (truncated) data on disk
    manifests = sorted(os.listdir(os.path.join(out, "_manifests")))
    victims = [int(m.split("-")[1].split(".")[0]) for m in manifests[:2]]
    for b in victims:
        os.remove(os.path.join(out, "_manifests", f"bucket-{b:05d}.json"))
    part_dir = os.path.join(out, f"bucket={victims[0]}")
    # truncate: delete the data files of one victim bucket entirely
    shutil.rmtree(part_dir)

    # resume must process exactly the two victim buckets
    todo = remaining_input(spark, docs_df, out, N_BUCKETS)
    todo_buckets = {r["bucket"] for r in todo.select("bucket").distinct().collect()}
    assert todo_buckets == set(victims)

    stats = run_resumable(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r2")
    assert set(stats["buckets_written"]) == set(victims)

    final = spark.read.parquet(out)
    assert final.count() == N_DOCS  # no loss
    assert final.select("doc_id").distinct().count() == N_DOCS  # no dups
    got = {
        (r["doc_id"], tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]))
        for r in final.collect()
    }
    assert got == golden  # bit-identical content after resume


def test_manifest_lineage_fields(spark, docs_df, tmp_path):
    out = str(tmp_path / "out")
    run_resumable(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="runX")
    for m in completed_buckets(out):
        assert m["run_id"] == "runX"
        assert m["n_docs"] > 0
        assert m["n_errors"] == 0
        assert m["min_doc_id"] <= m["max_doc_id"]
        assert m["wall_sec_run"] > 0
        assert m["docs_per_sec_run"] > 0


def test_footer_stats_match_scan_stats(spark, docs_df, tmp_path, monkeypatch):
    """The footer-metadata manifest stats must be value-identical to the
    fallback scan's stats — row counts, error counts and doc_id ranges all
    come from parquet column-chunk statistics."""
    out_m = str(tmp_path / "meta")
    out_s = str(tmp_path / "scan")
    run_resumable(spark, docs_df, out_m, n_buckets=N_BUCKETS, run_id="r")
    _force_scan(monkeypatch)
    run_resumable(spark, docs_df, out_s, n_buckets=N_BUCKETS, run_id="r")

    def key(ms):
        return {
            m["bucket"]: (m["n_docs"], m["n_errors"], m["min_doc_id"], m["max_doc_id"])
            for m in ms
        }

    assert key(completed_buckets(out_m)) == key(completed_buckets(out_s))


def test_commit_mismatch_raises_with_diagnostics(spark, docs_df, tmp_path, monkeypatch):
    """A committed-vs-observed disagreement must raise an explicit exception
    (not a -O-stripped assert) carrying both counts, and must NOT write
    manifests."""
    import ocr_spark.checkpoint as cp

    out = str(tmp_path / "out")
    real = cp._bucket_stats_from_footers

    def corrupted(out_dir, candidates):
        stats = real(out_dir, candidates)
        if stats:
            stats[0]["n_docs"] += 1  # simulate a footer/observe disagreement
        return stats

    monkeypatch.setattr(cp, "_bucket_stats_from_footers", corrupted)
    with pytest.raises(cp.CheckpointCommitError, match=r"\d+.*disagree.*\d+"):
        run_resumable(spark, docs_df, out, n_buckets=N_BUCKETS, run_id="r1")
    assert completed_buckets(out) == []


def test_stale_partial_bucket_ignored(spark, tmp_path):
    """A crashed previous run can leave a manifest-less bucket dir that the
    next run does not rewrite; the verification scan must not read it
    (review finding: the cross-check previously scanned ALL unmanifested
    dirs, so a stale partial — even an unreadable one — aborted the run
    after the write but before any manifest commit)."""
    import os

    from ocr_spark.checkpoint import completed_buckets, run_resumable
    from ocr_spark.fixtures import generate_docs
    from ocr_spark.schema import DOC_SCHEMA

    out_dir = str(tmp_path / "out")
    # simulate the stale partial: a bucket dir with a half-written file that
    # is not even valid parquet
    stale = os.path.join(out_dir, "bucket=99")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-00000.parquet"), "w") as f:
        f.write("this is not parquet")

    docs = spark.createDataFrame(generate_docs(30), DOC_SCHEMA)
    stats = run_resumable(spark, docs, out_dir, n_buckets=8, run_id="r1")
    assert stats["n_docs"] == 30
    manifested = {m["bucket"] for m in completed_buckets(out_dir)}
    assert manifested and 99 not in manifested
    assert os.path.exists(os.path.join(stale, "part-00000.parquet"))


def test_partition_pruned_resume_from_bucketed_input(spark, docs_df, tmp_path):
    """VERDICT r4 #7: resume over a bucket-partitioned input prunes the
    SCAN to incomplete buckets (PartitionFilters), and a partially-committed
    output is repaired by rewriting exactly the incomplete buckets."""
    from ocr_spark.checkpoint import (
        read_completed_output,
        remaining_input_bucketed,
        write_bucketed,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    write_bucketed(docs_df, src, N_BUCKETS)

    run_resumable(spark, src, out, n_buckets=N_BUCKETS, run_id="r1")
    all_buckets = sorted(int(m["bucket"]) for m in completed_buckets(out))

    # simulate a partial commit: drop three manifests (their bucket dirs
    # stay on disk as unmanifested partials)
    broken = all_buckets[:3]
    for b in broken:
        os.remove(os.path.join(out, "_manifests", f"bucket-{b:05d}.json"))

    todo = remaining_input_bucketed(spark, src, out, N_BUCKETS)
    plan = todo._jdf.queryExecution().executedPlan().toString()
    # completed buckets are excluded AT THE SCAN, not by a post-filter
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert m and "NOT" in m[0] and "bucket" in m[0], plan
    src_df = spark.read.option("basePath", src).parquet(src)
    want_ids = {
        r["doc_id"]
        for r in src_df.where(F.col("bucket").isin(broken)).collect()
    }
    assert {r["doc_id"] for r in todo.collect()} == want_ids

    # the consumer view hides the unmanifested partials via PartitionFilters
    done_view = read_completed_output(spark, out)
    plan2 = done_view._jdf.queryExecution().executedPlan().toString()
    m2 = [ln for ln in plan2.splitlines() if "PartitionFilters" in ln]
    assert m2 and "bucket" in m2[0] and "NOT" not in m2[0], plan2
    assert done_view.count() == N_DOCS - len(want_ids)

    # resume from the PATH: exactly the broken buckets are rewritten
    stats = run_resumable(spark, src, out, n_buckets=N_BUCKETS, run_id="r2")
    assert sorted(stats["buckets_written"]) == broken
    assert stats["n_docs"] == len(want_ids)
    final = read_completed_output(spark, out)
    assert final.count() == N_DOCS
    assert final.select("doc_id").distinct().count() == N_DOCS


def test_bucket_scheme_mismatch_refused(spark, docs_df, tmp_path):
    """A resume whose n_buckets disagrees with the store's recorded scheme
    would silently prune away live documents — it must raise instead."""
    from ocr_spark.checkpoint import remaining_input_bucketed, write_bucketed

    src = str(tmp_path / "src")
    write_bucketed(docs_df, src, 8)
    with pytest.raises(ValueError, match="mismatch"):
        remaining_input_bucketed(spark, src, str(tmp_path / "out"), 32)
    # a store without the scheme sidecar can't be proven safe either
    os.remove(os.path.join(src, "_bucket_scheme.json"))
    with pytest.raises(ValueError, match="_bucket_scheme"):
        remaining_input_bucketed(spark, src, str(tmp_path / "out"), 8)


def test_read_completed_output_before_first_commit(spark, tmp_path):
    """A consumer racing the producer's first commit sees an empty
    OUTPUT_SCHEMA view, not a schema-inference AnalysisException."""
    from ocr_spark.checkpoint import read_completed_output

    missing = str(tmp_path / "never_written")
    df = read_completed_output(spark, missing)
    assert df.count() == 0
    assert "doc_id" in df.columns and "bucket" in df.columns
    # dir exists but holds only _manifests scaffolding: same empty view
    half = tmp_path / "half"
    (half / "_manifests").mkdir(parents=True)
    assert read_completed_output(spark, str(half)).count() == 0


def test_read_completed_output_empty_when_no_manifests(spark, docs_df, tmp_path):
    from ocr_spark.checkpoint import read_completed_output, write_bucketed

    out = str(tmp_path / "out")
    # bucketed data exists but nothing is manifested: the view must be empty
    from ocr_spark.pipeline import extract_documents

    write_bucketed(extract_documents(docs_df), out, N_BUCKETS)
    assert read_completed_output(spark, out).count() == 0
