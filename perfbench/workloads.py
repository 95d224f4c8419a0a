"""The workloads: one untraced pass each, the cumulative prefixes the
traced run times layer by layer, and the correctness checks.

Every pass forces its result into a ``noop`` sink and carries an ``observe`` of an order-independent output
digest, so the digest costs no extra scan.
"""

from __future__ import annotations

import itertools
import os
import shutil
import sys
from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from perfbench import gen

_obs_ids = itertools.count()

# corpus_pipeline_full's settings (__spark_entry__.q_corpus_pipeline_full)
CORPUS_KW = dict(
    min_quality=0.55,
    quality="v2",
    dedup_method="simhash",
    contamination_n=8,
    max_hamming=3,
)
DUP_SPAN_N = 6

# single-threaded kernel timing caps, in spans
KERNEL_SAMPLE = 400
MEDIA_SAMPLE = 4096
RESOLVE_BATCH = 512  # the session's Arrow batch size

GOLDEN_LIGHT_DOCS = 16


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def rules():
    import __spark_entry__ as E

    return E.RULES


def _digest_aggs(cols: list[str]) -> list:
    """count, sum of the top 31 bits and xor of xxhash64 over `cols`: all
    three are independent of row order and partitioning."""
    h = F.xxhash64(*cols)
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.shiftright(h, 33)).alias("h_sum"),
        F.bit_xor(h).alias("h_xor"),
    ]


def observe_extraction(df: DataFrame) -> tuple[DataFrame, Observation]:
    obs = Observation(f"perfbench_{next(_obs_ids)}")
    err = F.col("error").isNotNull()
    aggs = _digest_aggs(["doc_id", "spans", "error"]) + [
        F.sum(err.cast("long")).alias("errors"),
        F.sum((F.col("error_source") == "html").cast("long")).alias("errors_html"),
        F.sum((F.col("error_source") == "pdf").cast("long")).alias("errors_pdf"),
    ]
    return df.observe(obs, *aggs), obs


def observe_corpus(df: DataFrame) -> tuple[DataFrame, Observation]:
    obs = Observation(f"perfbench_{next(_obs_ids)}")
    aggs = _digest_aggs(["doc_id", "text"]) + [
        F.sum(F.col("text").contains("<EMAIL>").cast("long")).alias("pii_docs"),
    ]
    return df.observe(obs, *aggs), obs


def digest_of(obs_row: dict) -> str:
    return f"{obs_row['n']}:{obs_row['h_sum']}:{obs_row['h_xor']}"


def _warn(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)


# ---------------------------------------------------------------------------
# extraction
# ---------------------------------------------------------------------------


def text_frame(docs: DataFrame, rule_pairs) -> DataFrame:
    """extract_documents' first step: native text-kind normalization inside
    the span array (T1-T7 through functions.text); other kinds pass
    through."""
    from ocr_spark.functions import text as TX
    from ocr_spark.pipeline import _process_span

    vr = TX.validate_rules(rule_pairs)
    return docs.withColumn("spans", F.transform("spans", lambda s: _process_span(s, vr)))


def _identity_batches(batches):
    yield from batches


def golden_doc(doc: dict, rule_pairs) -> dict:
    """Per-doc golden from the test-side reference implementations, with
    the golden_doc semantics of tests/test_pipeline_e2e.py."""
    from ocr_spark.sources.media import synth_media_bytes
    from tests import reference_impl as R
    from tests import reference_impl_heavy as RH

    vrules = R.validate_rules(list(rule_pairs))
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
        else:
            has_media = True
            t, c = RH.media_recognize(synth_media_bytes(s["media_ref"]))
            text = R.process_output(t, vrules)
            confs.append(c)
        spans_out.append(
            {"kind": kind, "text": text, "media_ref": s["media_ref"], "offset": s["offset"]}
        )
    valid = [c for c in confs if c > 0.0]
    conf = (sum(valid) / len(valid) if valid else 0.0) if has_media else None
    return {"doc_id": doc["doc_id"], "spans": spans_out, "confidence": conf, "error": None}


def golden_mismatches(rows: list[dict], goldens: list[dict]) -> int:
    """Docs whose output differs from the golden under span-sequence
    equality (spans, error) or confidence beyond 1e-9; a missing doc
    counts too."""
    got = {r["doc_id"]: r for r in rows}
    bad = 0
    for g in goldens:
        r = got.get(g["doc_id"])
        ok = (
            r is not None
            and [dict(s) for s in r["spans"]] == g["spans"]
            and r["error"] == g["error"]
            and (
                (r["confidence"] is None and g["confidence"] is None)
                or (
                    r["confidence"] is not None
                    and g["confidence"] is not None
                    and abs(r["confidence"] - g["confidence"]) < 1e-9
                )
            )
        )
        if not ok:
            bad += 1
            _warn(f"golden mismatch on {g['doc_id']}")
    return bad


def sample_docs(docs: list[dict], seed: int) -> list[dict]:
    """Fixed seeded golden sample: light docs plus the smallest heavy doc."""
    rng = np.random.default_rng([seed, 7])
    light = [d for d in docs if len(d["spans"]) < gen.HEAVY_MIN_SPANS]
    heavy = [d for d in docs if len(d["spans"]) >= gen.HEAVY_MIN_SPANS]
    pick = sorted(rng.choice(len(light), min(GOLDEN_LIGHT_DOCS, len(light)), replace=False))
    out = [light[i] for i in pick]
    if heavy:
        out.append(min(heavy, key=lambda d: (len(d["spans"]), d["doc_id"])))
    return out


def kernel_figures(docs: list[dict], rule_pairs, tracer) -> dict:
    """Single-threaded µs/span of each kernel, called through its public
    entry point on the workload's own spans."""
    import pyarrow as pa

    from ocr_spark.operators.dispatch import _postprocess_array
    from ocr_spark.operators.media_kernels import recognize_gray_batch
    from ocr_spark.operators.registry import get_extractor
    from ocr_spark.sources.media import resolve_gray_batch

    by_kind: dict[str, list[dict]] = {k: [] for k in ("text", "html", "pdf", "ocr", "media")}
    for d in docs:
        for s in d["spans"]:
            by_kind[s["kind"]].append(s)
    vr = [tuple(r) for r in rule_pairs]
    out: dict[str, float] = {}
    for kind, impl, name in (("html", "html_density", "html_extract"), ("pdf", "pdf_xycut", "pdf_layout")):
        texts = [s["text"] or "" for s in by_kind[kind][:KERNEL_SAMPLE]]
        fn = get_extractor(impl)
        with tracer.span(f"kernel.{name}", spans=len(texts)) as sp:
            for t in texts:
                try:
                    fn(t)
                except Exception:  # the Arrow stage turns these into envelopes
                    pass
        el = sp["end"] - sp["start"]
        out[f"{name}.us_per_span"] = el / len(texts) * 1e6 if texts else 0.0
        out[f"{name}.spans"] = len(by_kind[kind])

    refs = [s["media_ref"] for s in by_kind["ocr"] + by_kind["media"]]
    oks, grays_all = [], []
    with tracer.span("kernel.media.resolve", spans=len(refs)) as sp:
        for i in range(0, len(refs), RESOLVE_BATCH):
            g, ok = resolve_gray_batch(refs[i : i + RESOLVE_BATCH], "synthetic")
            oks.append(ok)
            if sum(len(x) for x in grays_all) < MEDIA_SAMPLE:
                grays_all.append(g[ok])
    el = sp["end"] - sp["start"]
    n_ok = int(sum(int(o.sum()) for o in oks))
    out["media.resolve_us_per_span"] = el / len(refs) * 1e6 if refs else 0.0
    out["media.spans"] = len(refs)
    out["media.unresolved"] = len(refs) - n_ok
    out["media_kernels.images"] = n_ok
    texts_m: list[str] = []
    if grays_all:
        grays = np.concatenate(grays_all)[:MEDIA_SAMPLE]
        with tracer.span("kernel.media_kernels.recognize", spans=len(grays)) as sp:
            for i in range(0, len(grays), RESOLVE_BATCH):
                t, _c = recognize_gray_batch(grays[i : i + RESOLVE_BATCH])
                texts_m.extend(t)
        out["media_kernels.recognize_us_per_span"] = (
            (sp["end"] - sp["start"]) / len(grays) * 1e6
        )
    else:
        out["media_kernels.recognize_us_per_span"] = 0.0
    if texts_m:
        arr = pa.array(texts_m, type=pa.string())
        with tracer.span("kernel.dispatch.postprocess", spans=len(texts_m)) as sp:
            _postprocess_array(arr, vr)
        out["dispatch.postprocess_us_per_span"] = (
            (sp["end"] - sp["start"]) / len(texts_m) * 1e6
        )
    else:
        out["dispatch.postprocess_us_per_span"] = 0.0
    return out


class Workload:
    name = ""
    default_n = 0

    def __init__(self, path: str, meta: dict, seed: int, cores: int, work_dir: str):
        self.path = path
        self.meta = meta
        self.seed = seed
        self.cores = cores
        self.work_dir = work_dir
        self.spark = None
        self.docs: DataFrame | None = None

    @property
    def n_docs(self) -> int:
        return self.meta["n"]

    def bind(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.path)

    def run_pass(self) -> dict:
        """One untraced pass; returns its output observation."""
        raise NotImplementedError

    def check_pass(self, obs: dict) -> int:
        """Failed docs of one pass, judged from its observation alone."""
        raise NotImplementedError

    def check_sample(self) -> tuple[int, int]:
        """(docs checked, docs mismatching) against independent goldens or
        planted counts, outside the timed loop."""
        raise NotImplementedError

    def prefixes(self) -> list[tuple[str, object]]:
        """Ordered (layer tag, thunk) pairs for the traced run."""
        raise NotImplementedError

    def layer_metrics(self, t: dict, res: dict) -> dict:
        """Per-layer figures from prefix walls `t`, per-prefix results."""
        raise NotImplementedError

    def extra_figures(self, tracer, ref_digest: str) -> tuple[dict, int]:
        """Traced-run figures measured outside the prefixes, and the docs
        they found wrong; `ref_digest` is the digest of a correct pass."""
        return {}, 0

    def check_layers(self, m: dict) -> int:
        """Failures found in the traced run's per-layer counts."""
        return 0

    def input_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.path, f))
            for f in os.listdir(self.path)
            if f.endswith(".parquet")
        )

    def finish(self) -> None:
        """Untimed clean-up at the end of the run."""


class ExtractMixed(Workload):
    """Flagship mix through extract_documents(salt=4×cores) into noop. The
    traced run also writes the mix through checkpoint.run_resumable and
    resumes it, which measures the checkpoint layer."""

    name = "extract_mixed"
    default_n = 2000

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.salt = 4 * self.cores
        self._out_root = os.path.join(self.work_dir, "out", self.name)
        shutil.rmtree(self._out_root, ignore_errors=True)

    def check_pass(self, obs: dict) -> int:
        return int(obs["errors"] or 0) + max(0, self.n_docs - int(obs["n"]))

    def _extract(self, docs: DataFrame) -> tuple[DataFrame, Observation]:
        from ocr_spark.pipeline import extract_documents

        return observe_extraction(
            extract_documents(docs, rules=rules(), salt_partitions=self.salt)
        )

    def run_pass(self) -> dict:
        df, obs = self._extract(self.docs)
        force(df)
        return obs.get

    def check_sample(self) -> tuple[int, int]:
        sample = sample_docs(gen.read_spans_docs(self.path), self.seed)
        goldens = [golden_doc(d, rules()) for d in sample]
        ids = [d["doc_id"] for d in sample]
        df, _obs = self._extract(self.docs.where(F.col("doc_id").isin(ids)))
        rows = [r.asDict(recursive=True) for r in df.collect()]
        return len(sample), golden_mismatches(rows, goldens)

    def prefixes(self):
        from ocr_spark.operators.dispatch import apply_heavy_kinds

        rp = rules()
        text = text_frame(self.docs, rp)
        staged = text.repartition(self.salt, F.xxhash64("doc_id"))
        return [
            ("scan", lambda: force(self.docs)),
            ("text", lambda: force(text)),
            ("salt", lambda: force(staged)),
            ("arrow_io", lambda: force(staged.mapInArrow(_identity_batches, staged.schema))),
            ("dispatch", lambda: force(apply_heavy_kinds(staged, rp))),
            ("extract", self.run_pass),
        ]

    def layer_metrics(self, t: dict, res: dict) -> dict:
        obs = res["extract"]["res"]
        spans = self.meta["spans"]
        return {
            "scan.s": t["scan"],
            "text.normalize_s": t["text"] - t["scan"],
            "pipeline.salt_s": t["salt"] - t["text"],
            "pipeline.shuffle_write_bytes": res["salt"]["spark"]["shuffle_write_bytes"],
            "dispatch.stage_s": t["dispatch"] - t["salt"],
            "dispatch.arrow_io_s": t["arrow_io"] - t["salt"],
            "dispatch.kernel_s": t["dispatch"] - t["arrow_io"],
            "dispatch.python_cpu_s": (
                res["dispatch"]["cpu"]["workers"] - res["salt"]["cpu"]["workers"]
            ),
            "dispatch.jvm_cpu_s": (
                res["dispatch"]["spark"]["jvm_cpu_s"] - res["salt"]["spark"]["jvm_cpu_s"]
            ),
            "pipeline.reassembly_s": t["extract"] - t["dispatch"],
            "pipeline.task_skew": res["extract"]["spark"]["task_skew"],
            "html_extract.errors": int(obs["errors_html"] or 0),
            "pdf_layout.errors": int(obs["errors_pdf"] or 0),
            "text.spans": spans["text"],
            "dispatch.spans_heavy": spans["html"] + spans["pdf"] + spans["ocr"] + spans["media"],
        }

    def _run_resumable(self, out_dir: str, run_id: str) -> tuple[dict, Observation | None]:
        from ocr_spark.checkpoint import run_resumable

        holder: list[Observation] = []

        def extract(d):
            df, obs = self._extract(d)
            holder.append(obs)
            return df

        stats = run_resumable(self.spark, self.docs, out_dir, run_id=run_id, extract=extract)
        return stats, (holder[0] if holder else None)

    def extra_figures(self, tracer, ref_digest: str) -> tuple[dict, int]:
        """Kernel figures, then the checkpoint layer: one resumable write of
        the mix into a fresh dir, a re-run over its completed output
        (nothing to do) and one after dropping half the manifests. The
        write must produce the pass digest and manifest every doc; the half
        resume must redo exactly the dropped buckets' docs."""
        from ocr_spark.checkpoint import MANIFEST_SUBDIR, completed_buckets

        figures = kernel_figures(gen.read_spans_docs(self.path), rules(), tracer)
        out_dir = os.path.join(self._out_root, "checkpoint")
        with tracer.span("checkpoint.write") as sp:
            stats, obs = self._run_resumable(out_dir, "write")
        written = dict(obs.get)
        bad = self.check_pass(written)
        if digest_of(written) != ref_digest:
            _warn("checkpoint write digest differs from the pass digest")
            bad += self.n_docs
        manifested = sum(m["n_docs"] for m in completed_buckets(out_dir))
        if manifested != self.n_docs:
            _warn(f"manifests hold {manifested} docs, input has {self.n_docs}")
            bad += abs(self.n_docs - manifested)
        nbytes = 0
        for dirpath, _dirs, files in os.walk(out_dir):
            if MANIFEST_SUBDIR not in dirpath:
                nbytes += sum(
                    os.path.getsize(os.path.join(dirpath, f))
                    for f in files
                    if f.endswith(".parquet")
                )
        with tracer.span("checkpoint.resume_noop") as sp_noop:
            noop = self._run_resumable(out_dir, "resume-noop")[0]
        dropped = [m for m in completed_buckets(out_dir) if m["bucket"] % 2 == 0]
        for m in dropped:
            os.remove(os.path.join(out_dir, MANIFEST_SUBDIR, f"bucket-{m['bucket']:05d}.json"))
        with tracer.span("checkpoint.resume_half") as sp_half:
            half = self._run_resumable(out_dir, "resume-half")[0]
        redo = noop["n_docs"] + abs(half["n_docs"] - sum(m["n_docs"] for m in dropped))
        if redo:
            _warn(f"resume redid {noop['n_docs']} done docs / {half['n_docs']} of half")
        figures.update(
            {
                "checkpoint.write_s": stats["wall_sec"],
                "checkpoint.commit_s": sp["end"] - sp["start"] - stats["wall_sec"],
                "checkpoint.bytes_written": nbytes,
                "checkpoint.buckets": len(stats["buckets_written"]),
                "checkpoint.resume_noop_s": sp_noop["end"] - sp_noop["start"],
                "checkpoint.resume_half_s": sp_half["end"] - sp_half["start"],
            }
        )
        return figures, bad + redo

    def finish(self) -> None:
        shutil.rmtree(self._out_root, ignore_errors=True)


# ---------------------------------------------------------------------------
# corpus hygiene
# ---------------------------------------------------------------------------


@contextmanager
def quality_stage_only():
    """Within the block, corpus_pipeline stops after its quality filter:
    its near_dedup stage passes the filtered frame through, so a call with
    no dup-span, eval or scrub stage returns corpus_pipeline's own quality
    stage, persisted as the full pipeline persists it."""
    from ocr_spark.operators import corpus

    real = corpus.near_dedup
    corpus.near_dedup = lambda docs, **_kw: docs
    try:
        yield
    finally:
        corpus.near_dedup = real


class CorpusHygiene(Workload):
    """Planted-structure docs through corpus_pipeline with the
    corpus_pipeline_full settings."""

    name = "corpus_hygiene"
    default_n = 2000

    @property
    def n_docs(self) -> int:
        return self.meta["expected"]["n_corpus"]

    def _split(self):
        cond = F.col("doc_id") % gen.EVAL_MOD == 0
        return self.docs.where(~cond), self.docs.where(cond)

    def _pipeline(self, with_eval: bool, dup_span: bool, scrub: bool):
        """Force one corpus_pipeline variant into noop; returns its
        observation and cluster stats, releasing its persisted stages.
        With nothing after near_dedup, the variant ends at near_dedup
        (or, under quality_stage_only, at the quality filter)."""
        from ocr_spark.operators.corpus import corpus_pipeline, unpersist_stages

        corpus, ev = self._split()
        stats: dict = {}
        out = corpus_pipeline(
            corpus,
            ev if with_eval else None,
            dup_span_n=DUP_SPAN_N if dup_span else None,
            scrub=scrub,
            stats=stats,
            **CORPUS_KW,
        )
        df, obs = observe_corpus(out)
        force(df)
        unpersist_stages(stats)
        row = dict(obs.get)
        row["cluster_rounds"] = stats.get("rounds", 0)
        return row

    def check_pass(self, obs: dict) -> int:
        exp = self.meta["expected"]
        bad = abs(int(obs["n"]) - exp["kept"]) + abs(int(obs["pii_docs"] or 0) - exp["pii_docs"])
        if bad:
            _warn(f"corpus pass kept {obs['n']} (pii {obs['pii_docs']}), planted {exp}")
        return bad

    def run_pass(self) -> dict:
        return self._pipeline(True, True, True)

    def check_sample(self) -> tuple[int, int]:
        """Nothing beyond the per-pass checks: the contaminated count needs
        the chain without decontamination, which only the traced run times
        (check_layers)."""
        return 0, 0

    def prefixes(self):
        def quality():
            with quality_stage_only():
                return self._pipeline(False, False, False)

        return [
            ("scan", lambda: force(self.docs)),
            ("quality", quality),
            ("near_dedup", lambda: self._pipeline(False, False, False)),
            ("dup_span", lambda: self._pipeline(False, True, False)),
            ("decontam", lambda: self._pipeline(True, True, False)),
            ("pii", lambda: self._pipeline(True, True, True)),
        ]

    def layer_metrics(self, t: dict, res: dict) -> dict:
        kept_dedup = int(res["dup_span"]["res"]["n"])
        return {
            "scan.s": t["scan"],
            "corpus.quality_s": t["quality"] - t["scan"],
            "corpus.near_dedup_s": t["near_dedup"] - t["quality"],
            "corpus.dup_span_s": t["dup_span"] - t["near_dedup"],
            "corpus.decontam_s": t["decontam"] - t["dup_span"],
            "corpus.pii_s": t["pii"] - t["decontam"],
            "corpus.kept_quality": int(res["quality"]["res"]["n"]),
            "corpus.kept_dedup": kept_dedup,
            "corpus.cluster_rounds": int(res["near_dedup"]["res"]["cluster_rounds"]),
            "corpus.contaminated": kept_dedup - int(res["decontam"]["res"]["n"]),
        }

    def check_layers(self, m: dict) -> int:
        exp = self.meta["expected"]
        bad = 0
        for k in ("kept_quality", "kept_dedup", "contaminated"):
            if m[f"corpus.{k}"] != exp[k]:
                _warn(f"corpus.{k} = {m[f'corpus.{k}']}, planted {exp[k]}")
                bad += abs(m[f"corpus.{k}"] - exp[k])
        return bad


WORKLOADS = {w.name: w for w in (ExtractMixed, CorpusHygiene)}
