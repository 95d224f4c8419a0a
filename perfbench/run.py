"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each workload runs as back-to-back batch
passes: a closed loop with one client, from this one process, on
``local[nproc]``, with the program's own session settings. With
``--trace 0`` the run sets up ``N_SETUPS`` times, each time launching a new
JVM through ``get_spark`` and running ``WARMUP_PASSES`` untimed passes;
``setup_s`` is the median of those set-ups. It then times passes on the
last session for ``--seconds`` and reports the end-to-end metrics, each
the median over the timed passes. ``cpu_s_per_kdoc`` counts the whole
process tree (driver, JVM, Python workers) but the JVM's JIT compiler
threads, which a run this short never sees finish (see proctree).
``peak_rss_mb`` is the pass's peak resident memory of the Python
processes (driver and workers, by PSS) plus the JVM's peak heap in use
(old generation and survivors, from a collected heap at the pass start;
see proctree.JvmHeap). With ``--trace 1`` it times each layer from
outside, as the difference between cumulative prefixes of the pipeline,
and reports the per-layer metrics.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The exit code is 0
only when every output check passed.

Generated inputs, Spark's working files, pass outputs and the trace file
live under ``.perfbench_work/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

# JVM launches per untraced run; setup_s is their median. A set-up is a JVM
# launch plus a cold pass (15-40 s on 4 cores), so one per run keeps a run
# within a few minutes.
N_SETUPS = 1
WARMUP_PASSES = 1  # untimed passes after each launch, counted in setup_s
MIN_PASSES = 3
PY_ROLES = ("driver", "workers")
T0 = time.perf_counter()

END_TO_END = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s",
    "ok_frac": "ratio",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

# per-layer metric -> unit; a layer a workload does not run reports 0
PER_LAYER = {
    "session.start_s": "s",
    "scan.s": "s",
    "scan.rows": "count",
    "scan.bytes": "bytes",
    "text.normalize_s": "s",
    "text.spans": "count",
    "pipeline.salt_s": "s",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.task_skew": "ratio",
    "pipeline.reassembly_s": "s",
    "dispatch.stage_s": "s",
    "dispatch.arrow_io_s": "s",
    "dispatch.kernel_s": "s",
    "dispatch.python_cpu_s": "s",
    "dispatch.jvm_cpu_s": "s",
    "dispatch.spans_heavy": "count",
    "dispatch.postprocess_us_per_span": "us",
    "html_extract.us_per_span": "us",
    "html_extract.spans": "count",
    "html_extract.errors": "count",
    "pdf_layout.us_per_span": "us",
    "pdf_layout.spans": "count",
    "pdf_layout.errors": "count",
    "media.resolve_us_per_span": "us",
    "media.spans": "count",
    "media.unresolved": "count",
    "media_kernels.recognize_us_per_span": "us",
    "media_kernels.images": "count",
    "checkpoint.write_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.buckets": "count",
    "checkpoint.resume_noop_s": "s",
    "checkpoint.resume_half_s": "s",
    "corpus.quality_s": "s",
    "corpus.near_dedup_s": "s",
    "corpus.dup_span_s": "s",
    "corpus.decontam_s": "s",
    "corpus.pii_s": "s",
    "corpus.kept_quality": "count",
    "corpus.kept_dedup": "count",
    "corpus.cluster_rounds": "count",
    "corpus.contaminated": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.jvm_cpu_s": "s",
    "spark.python_cpu_s": "s",
    "spark.jit_cpu_s": "s",
    "spark.codegen_compiles": "count",
    "trace.overhead_frac": "ratio",
    "trace.layer_sum_s": "s",
    "trace.untraced_pass_s": "s",
    "failed_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="input size (default: per workload)")
    return ap.parse_args(argv)


def spark_conf(work: str) -> dict:
    """Point every file Spark, the JVM and the Python workers write at the
    work dir, and put the checkout on the workers' import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.chdir(work)
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData "
            # compiler threads that never exit, so proctree can leave their
            # CPU out of cpu_s_per_kdoc
            "-XX:-UseDynamicNumberOfCompilerThreads"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def start_spark(cores: int, conf: dict):
    from ocr_spark.session import get_spark

    return get_spark("perfbench", cpus=cores, extra_conf=conf)


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit: the JVM
    launched by pyspark exits when its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def set_up(w, cores: int, conf: dict, state: dict) -> list[str]:
    """One set-up: stop the running session and its JVM, launch a new one
    through get_spark and run the warm-up passes; returns their digests."""
    from perfbench.workloads import digest_of

    shutdown(state["spark"])
    state["spark"] = None
    state["spark"] = start_spark(cores, conf)
    w.bind(state["spark"])
    return [digest_of(w.run_pass()) for _ in range(WARMUP_PASSES)]


def run_untraced(w, seconds: float, cores: int, conf: dict, state: dict) -> dict:
    from perfbench import proctree
    from perfbench.workloads import digest_of

    setups, digests = [], []
    for _ in range(N_SETUPS):
        t0 = time.perf_counter()
        digests += set_up(w, cores, conf, state)
        setups.append(time.perf_counter() - t0)
        log(f"setup {len(setups)}: {setups[-1]:.3f}s")

    heap = proctree.JvmHeap(state["spark"])
    passes = []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < seconds:
        heap.reset()
        rss = proctree.PeakRss(roles=PY_ROLES).start()
        c0 = proctree.cpu_seconds()
        t0 = time.perf_counter()
        obs = w.run_pass()
        wall = time.perf_counter() - t0
        cpu = proctree.cpu_delta(c0, proctree.cpu_seconds())
        py_peak, jvm_peak = rss.stop(), heap.peak()
        passes.append((wall, cpu["total"], py_peak + jvm_peak, obs))
        log(f"pass {len(passes)}: {wall:.3f}s wall, {cpu['total']:.2f} cpu-s "
            f"(+{cpu['jit']:.2f} jit), python {py_peak / 2**20:.0f} MB {rss.at_peak}, "
            f"jvm heap {jvm_peak / 2**20:.0f} MB")

    n = w.n_docs
    failed = 0
    for _wall, _cpu, _peak, obs in passes:
        if digest_of(obs) != digests[0]:
            print(f"perfbench: digest {digest_of(obs)} != {digests[0]}", file=sys.stderr)
            failed += n
        else:
            failed += min(n, w.check_pass(obs))
    if len(set(digests)) != 1:
        print(f"perfbench: warm-up digests differ: {digests}", file=sys.stderr)
        failed += n
    checked, bad = w.check_sample()
    log(f"checked {checked} sample docs, {bad} mismatching")
    attempted = n * len(passes) + checked
    failed = min(attempted, failed + bad)
    metrics = {
        "docs_per_s": statistics.median(n / p[0] for p in passes),
        "cpu_s_per_kdoc": statistics.median(p[1] / (n / 1000) for p in passes),
        "ok_frac": 1.0 - failed / attempted,
        "setup_s": statistics.median(setups),
        # median over passes of each pass's peak: one pass's transient
        # spike does not set the figure for the run
        "peak_rss_mb": statistics.median(p[2] for p in passes) / 2**20,
    }
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()},
    }


def run_traced(w, seconds: float, cores: int, conf: dict, state: dict, trace_path: str) -> dict:
    from perfbench import proctree
    from perfbench.tracing import SparkStats, Tracer
    from perfbench.workloads import digest_of

    tracer = Tracer(w.name, w.seed)
    with tracer.span("session.start") as sp:
        state["spark"] = start_spark(cores, conf)
    session_start = sp["end"] - sp["start"]
    w.bind(state["spark"])
    stats = SparkStats(state["spark"])
    # the untraced run's warm-up, so the untraced pass here is as warm as
    # the passes it is compared with
    with tracer.span("warmup"):
        warm = {digest_of(w.run_pass()) for _ in range(WARMUP_PASSES)}
    ref_digest = min(warm)

    n = w.n_docs
    rounds: list[tuple[float, dict]] = []  # (untraced pass wall, per-prefix figures)
    failed = attempted = 0
    if len(warm) != 1:
        print(f"perfbench: warm-up digests differ: {sorted(warm)}", file=sys.stderr)
        failed = attempted = n
    t_start = time.perf_counter()
    while not rounds or time.perf_counter() - t_start < seconds:
        r = len(rounds)
        with tracer.span("untraced_pass", pass_no=r) as sp:
            obs = w.run_pass()
        untraced = sp["end"] - sp["start"]
        attempted += n
        failed += n if digest_of(obs) != ref_digest else min(n, w.check_pass(obs))
        res = {}
        prefixes = w.prefixes()
        for tag, thunk in prefixes:
            with tracer.span(f"prefix.{tag}", pass_no=r) as sp, stats.tagged(f"{tag}#{r}"):
                c0 = proctree.cpu_seconds()
                out = thunk()
                cpu = proctree.cpu_delta(c0, proctree.cpu_seconds())
            res[tag] = {
                "wall": sp["end"] - sp["start"],
                "cpu": cpu,
                "spark": stats.figures(f"{tag}#{r}"),
                "res": out,
            }
        # the last prefix is the whole pipeline: its output must match
        full = prefixes[-1][0]
        attempted += n
        if digest_of(res[full]["res"]) != ref_digest:
            print("perfbench: traced pass digest differs", file=sys.stderr)
            failed += n
        rounds.append((untraced, res))
        log(f"round {r}: untraced {untraced:.3f}s, prefixes "
            + " ".join(f"{t}={v['wall']:.3f}" for t, v in res.items()))

    def over_rounds(fn):
        return statistics.median([fn(res) for _u, res in rounds])

    per_round = [w.layer_metrics({t: v["wall"] for t, v in res.items()}, res) for _u, res in rounds]
    m = {k: statistics.median([pr[k] for pr in per_round]) for k in per_round[0]}
    traced_s = over_rounds(lambda res: res[full]["wall"])
    untraced_s = statistics.median([u for u, _res in rounds])
    m.update(
        {
            "session.start_s": session_start,
            "scan.rows": w.meta.get("expected", {}).get("n_docs", w.meta["n"]),
            "scan.bytes": w.input_bytes(),
            "spark.jobs": over_rounds(lambda res: res[full]["spark"]["jobs"]),
            "spark.stages": over_rounds(lambda res: res[full]["spark"]["stages"]),
            "spark.shuffle_write_bytes": over_rounds(
                lambda res: res[full]["spark"]["shuffle_write_bytes"]
            ),
            "spark.spill_bytes": over_rounds(lambda res: res[full]["spark"]["spill_bytes"]),
            "spark.jvm_cpu_s": over_rounds(lambda res: res[full]["spark"]["jvm_cpu_s"]),
            "spark.python_cpu_s": over_rounds(lambda res: res[full]["cpu"]["workers"]),
            "spark.jit_cpu_s": over_rounds(lambda res: res[full]["cpu"]["jit"]),
            "spark.codegen_compiles": over_rounds(
                lambda res: res[full]["spark"]["codegen_compiles"]
            ),
            # the prefix layer times telescope to the full prefix's wall
            "trace.layer_sum_s": traced_s,
            "trace.untraced_pass_s": untraced_s,
            # 1 - traced docs/s over untraced docs/s
            "trace.overhead_frac": 1.0 - untraced_s / traced_s,
        }
    )
    figures, bad = w.extra_figures(tracer, ref_digest)
    m.update(figures)
    failed += bad + w.check_layers(m)
    checked, bad = w.check_sample()
    attempted += checked
    failed = min(attempted, failed + bad)
    m["failed_frac"] = failed / attempted
    tracer.write(trace_path)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": m.get(k, 0), "unit": u} for k, u in PER_LAYER.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    # imported first so a tree without the program fails before any work
    import ocr_spark.pipeline  # noqa: F401

    from perfbench import gen
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    cls = WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    path, meta = gen.cached_input(
        os.path.join(WORK, "inputs"), cls.name, args.docs or cls.default_n, args.seed
    )
    log(f"input ready: {path}")
    cores = len(os.sched_getaffinity(0))
    conf = spark_conf(WORK)
    w = cls(path, meta, args.seed, cores, WORK)
    state = {"spark": None}
    try:
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            trace_path = os.path.join(WORK, "traces", f"{cls.name}-s{args.seed}.jsonl")
            result = run_traced(w, args.seconds, cores, conf, state, trace_path)
        else:
            result = run_untraced(w, args.seconds, cores, conf, state)
        w.finish()
    finally:
        shutdown(state["spark"])
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
