"""Tiny-size smoke run of every workload, untraced and traced, through the
command line the benchmark is run with."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TINY = {"extract_mixed": 40, "corpus_hygiene": 120}


def _run(workload: str, trace: int) -> tuple[int, dict]:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
        "--seconds", "0.1", "--trace", str(trace), "--docs", str(TINY[workload]),
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    assert lines, p.stderr[-3000:]
    return p.returncode, json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(TINY))
def test_tiny_run(workload, trace):
    rc, out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert rc == 0 and out["correct"] and out["failed"] == 0, out
    names = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names
    m = {k: v["value"] for k, v in out["metrics"].items()}
    if not trace:
        assert m["docs_per_s"] > 0 and m["cpu_s_per_kdoc"] > 0 and m["ok_frac"] == 1.0
    elif workload == "corpus_hygiene":
        assert m["corpus.kept_dedup"] > 0 and m["corpus.contaminated"] > 0
    else:
        assert m["dispatch.spans_heavy"] > 0 and m["failed_frac"] == 0.0


def test_fails_without_the_program(tmp_path):
    """In a tree holding only the benchmark, the run fails before it
    prints a result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", name)) as f:
                (bench / name).write_text(f.read())
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_mixed", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
