"""Operator micro-benchmarks: one runner over a registry of cases.

    python scripts/microbench.py --case NAME [--n N] [--cpus C]

A case (see scripts/microbench_cases/) synthesizes n inputs, runs its
operators and asserts exact, closed-form results. The runner starts a
local[C] session (C defaults to $SPARK_GRAFT_CPUS, else the host's CPU
count), times the case's wall and CPU seconds (the whole process tree:
driver, JVM and Python workers, JIT compiler threads left out), appends
one line to BENCH/microbench_history.jsonl

    {case, commit, cpus, n, wall_s, cpu_s, ts, figures}

prints it and stops the session. A failed assert writes no line and exits
non-zero.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import subprocess
import sys
import time
from typing import Callable, NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench.proctree import cpu_seconds  # noqa: E402
from scripts.microbench_cases import crawl, dedup, media, training  # noqa: E402

HISTORY = os.path.join(REPO, "BENCH", "microbench_history.jsonl")


class Case(NamedTuple):
    fn: Callable[..., dict]
    n: int  # default size: the scale the case's figures are quoted at
    smoke_n: int  # small size for tests; every assert of the case holds at it
    # one shuffle partition per core instead of the session default of two
    # (the setting these cases were measured with)
    shuffle_per_cpu: bool = False


CASES: dict[str, Case] = {
    # media and codecs
    "audio_standardize": Case(media.bench_audio_standardize, 100_000, 200),
    "audio_tags": Case(media.bench_audio_tags, 500_000, 200),
    "audio_vad": Case(media.bench_audio_vad, 200_000, 200),
    "cc": Case(media.bench_cc, 736, 192),
    "doc_formats": Case(media.bench_doc_formats, 200_000, 200),
    "exif": Case(media.bench_exif, 500_000, 200),
    "fax": Case(media.bench_fax, 100_000, 200),
    "mail": Case(media.bench_mail, 200_000, 200),
    "pdf_images": Case(media.bench_pdf_images, 50_000, 200),
    "video_index": Case(media.bench_video_index, 200_000, 200),
    # dedup, decontamination and similarity
    "ann": Case(dedup.bench_ann, 1_000_000, 2_000),
    "clusters": Case(dedup.bench_clusters, 1_000_000, 2_000),
    "contamination": Case(dedup.bench_contamination, 1_000_000, 2_000),
    # big eval set, every block overlapping: the Bloom prefilter prunes nothing
    "contamination_bloom": Case(
        functools.partial(dedup.bench_contamination, methods=("bloom",), eval_mod=10),
        200_000,
        2_000,
    ),
    # big eval set, 1 block in 10 overlapping: where the prefilter pays
    "contamination_blocks": Case(
        functools.partial(
            dedup.bench_contamination, methods=("exact", "bloom"), split="blocks", eval_mod=10
        ),
        1_000_000,
        2_000,
    ),
    "dedup_index": Case(dedup.bench_dedup_index, 500_000, 2_000, shuffle_per_cpu=True),
    "dupspan": Case(dedup.bench_dupspan, 500_000, 2_000),
    "neardup": Case(dedup.bench_neardup, 500_000, 2_000),
    "neardup_e2e": Case(dedup.bench_neardup_e2e, 500_000, 2_000),
    "semantic": Case(dedup.bench_semantic, 200_000, 2_000, shuffle_per_cpu=True),
    # training data
    "bpe_train": Case(training.bench_bpe_train, 1_000_000, 2_000),
    "bpe_train_4096": Case(
        functools.partial(training.bench_bpe_train, merges=4096), 1_000_000, 2_000
    ),
    "dsir": Case(training.bench_dsir, 1_000_000, 2_000),
    "interleaved": Case(training.bench_interleaved, 500_000, 2_000),
    "materialize": Case(training.bench_materialize, 1_000_000, 2_000),
    "ngram_lm": Case(training.bench_ngram_lm, 1_000_000, 2_000),
    # crawl and text
    "crawl_ops": Case(crawl.bench_crawl_ops, 1_000_000, 50_000),
    "html_markdown": Case(crawl.bench_html_markdown, 200_000, 2_000),
    "links": Case(crawl.bench_links, 200_000, 2_000, shuffle_per_cpu=True),
}


def git_commit(short: bool = False) -> str | None:
    """HEAD's hash (abbreviated if `short`), with "-dirty" appended when
    tracked files differ from it, so a run of uncommitted code is not filed
    under its parent commit. The history files under BENCH/ do not count:
    each run appends to them. None outside a git checkout."""

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", *args], cwd=REPO, capture_output=True, text=True, check=True
        ).stdout.strip()

    try:
        head = git("rev-parse", *(["--short"] if short else []), "HEAD")
        dirty = git("status", "--porcelain", "--untracked-files=no", "--", ".", ":!BENCH")
    except (OSError, subprocess.CalledProcessError):
        return None
    return head + ("-dirty" if dirty else "")


def run_case(spark, name: str, n: int | None = None, history: str = HISTORY) -> dict:
    """Run case `name` at size n (default: its registered n) on `spark`,
    append its record to `history` and return it. An AssertionError from
    the case propagates and nothing is appended."""
    case = CASES[name]
    n = case.n if n is None else n
    cpus = spark.sparkContext.defaultParallelism
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    if case.shuffle_per_cpu:
        spark.conf.set(key, str(cpus))
    try:
        cpu0, t0 = cpu_seconds()["total"], time.perf_counter()
        figures = case.fn(spark, n)
        wall, cpu = time.perf_counter() - t0, cpu_seconds()["total"] - cpu0
    finally:
        spark.conf.set(key, saved)
    rec = {
        "case": name,
        "commit": git_commit(),
        "cpus": cpus,
        "n": n,
        "wall_s": round(wall, 2),
        "cpu_s": round(cpu, 2),
        "ts": int(time.time()),
        "figures": figures,
    }
    os.makedirs(os.path.dirname(history), exist_ok=True)
    with open(history, "a") as f:
        f.write(json.dumps(rec) + "\n")
    return rec


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--case", required=True, choices=sorted(CASES))
    ap.add_argument("--n", type=int, help="input size (default: the case's registered n)")
    ap.add_argument(
        "--cpus",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()),
        help="local[] parallelism (default: $SPARK_GRAFT_CPUS, else the CPU count)",
    )
    args = ap.parse_args()

    # Python workers unpickle case code by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    from ocr_spark.session import get_spark

    spark = get_spark(f"microbench_{args.case}", cpus=args.cpus)
    try:
        print(json.dumps(run_case(spark, args.case, args.n)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
