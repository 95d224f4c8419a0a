"""Smoke test of the micro-bench runner (scripts/microbench.py): every
registered case runs at its smoke size through `run_case` on the shared
session, asserts its exactness checks, and appends exactly one record of
the common schema to the given history file — never to BENCH/."""

import json
import os
import subprocess

import pytest

from scripts import microbench
from scripts.microbench import CASES, HISTORY, Case, run_case

BENCH = os.path.dirname(HISTORY)

# the scripts/bench_*.py each case replaces
OLD_SCRIPTS = (
    "ann audio_standardize audio_tags audio_vad bpe_train cc clusters "
    "contamination crawl_ops dedup_index doc_formats dsir dupspan exif fax "
    "html_markdown interleaved links mail materialize neardup neardup_e2e "
    "ngram_lm pdf_images semantic video_index"
).split()


def _bench_files():
    return {
        e.name: (e.stat().st_size, e.stat().st_mtime_ns) for e in os.scandir(BENCH)
    }


def test_every_old_script_is_a_case():
    assert len(OLD_SCRIPTS) == 26
    assert [s for s in OLD_SCRIPTS if s not in CASES] == []


@pytest.mark.parametrize("name", sorted(CASES))
def test_case_runs_at_smoke_n(spark, tmp_path, name):
    history = tmp_path / "history.jsonl"
    before = _bench_files()
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")

    rec = run_case(spark, name, CASES[name].smoke_n, history=str(history))

    lines = history.read_text().splitlines()
    assert len(lines) == 1
    assert json.loads(lines[0]) == rec
    assert set(rec) == {"case", "commit", "cpus", "n", "wall_s", "cpu_s", "ts", "figures"}
    assert rec["case"] == name and rec["n"] == CASES[name].smoke_n
    assert rec["cpus"] == spark.sparkContext.defaultParallelism
    assert rec["wall_s"] > 0 and rec["cpu_s"] >= 0
    assert isinstance(rec["figures"], dict) and rec["figures"]
    assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle
    assert _bench_files() == before


def test_failed_assert_writes_no_line(spark, tmp_path, monkeypatch):
    def fails(spark, n):
        assert n == 0, n

    monkeypatch.setitem(CASES, "fails", Case(fails, 1, 1))
    history = tmp_path / "history.jsonl"
    with pytest.raises(AssertionError):
        run_case(spark, "fails", history=str(history))
    assert not history.exists()


def test_commit_marks_a_dirty_tree(tmp_path, monkeypatch):
    def git(*args):
        return subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=tmp_path, capture_output=True, text=True, check=True,
        ).stdout.strip()

    monkeypatch.setattr(microbench, "REPO", str(tmp_path))
    assert microbench.git_commit() is None  # not a checkout yet
    git("init", "-q")
    (tmp_path / "a.txt").write_text("one\n")
    git("add", "a.txt")
    git("commit", "-q", "-m", "one")
    head = git("rev-parse", "HEAD")
    assert microbench.git_commit() == head
    assert microbench.git_commit(short=True) == git("rev-parse", "--short", "HEAD")
    (tmp_path / "new.txt").write_text("untracked\n")
    assert microbench.git_commit() == head  # untracked files do not count
    (tmp_path / "BENCH").mkdir()
    (tmp_path / "BENCH" / "history.jsonl").write_text("{}\n")
    git("add", "BENCH")
    git("commit", "-q", "-m", "history")
    head = git("rev-parse", "HEAD")
    (tmp_path / "BENCH" / "history.jsonl").write_text("{}\n{}\n")
    assert microbench.git_commit() == head  # nor do appended history lines
    (tmp_path / "a.txt").write_text("two\n")
    assert microbench.git_commit() == head + "-dirty"
    assert microbench.git_commit(short=True) == git("rev-parse", "--short", "HEAD") + "-dirty"
