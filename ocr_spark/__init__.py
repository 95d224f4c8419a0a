"""ocr_spark — a from-scratch PySpark-native main-content extraction engine.

Re-expresses the data-processing capabilities of the reference OCR-X repo
(rajasekarnp1/ocr, analyzed in SURVEY.md) as an idiomatic Spark pipeline over
an interleaved-spans document table:

    (doc_id: string,
     spans: array<struct<kind:string, text:string, media_ref:string, offset:int>>)

Design principles (SURVEY.md §1.2, §4):
  * DataFrame + Catalyst built-ins everywhere; scalar text semantics (T1-T5, T7)
    are native SQL expressions, never Python UDFs.
  * Dense per-document math (image kernels, CTC decode, DOM density scoring,
    XY-cut) lives in one Arrow-batched ``mapInArrow`` stage — zero per-row Python.
  * Skew handled by salted repartition on ``xxhash64(doc_id)``; AQE on.
  * Resumable via per-partition checkpoint manifests + left_anti join.
"""

from ocr_spark import _worker

__version__ = "0.1.0"

# pyspark workers only: stop each task from re-reading every zip archive's
# directory (see _worker); drivers keep stock import behaviour
_worker.install()
