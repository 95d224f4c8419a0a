"""Production-style job entrypoint for spark-submit (north rule: "launched
via spark-submit --py-files on multi-executor clusters").

Local sandbox example (packaging the engine exactly as a cluster run would):

    cd /root/repo && zip -qr /tmp/ocr_spark.zip ocr_spark
    spark-submit --py-files /tmp/ocr_spark.zip scripts/run_extract_job.py \
        --input /root/testdata/sf0.001_spans.parquet \
        --output /tmp/extract_out --buckets 64

On a real cluster the same command drops `local[*]` (session.get_spark honors
the submitted master), `--input` is the Iceberg table location, and
`--buckets` is sized so one bucket ≈ a few hundred GB (e.g. 4096 at 100 TB).

The job is resumable: re-running with the same `--output` anti-joins the
input against completed-bucket manifests and processes only what's missing
(ocr_spark.checkpoint protocol — at-least-once, no dups, no loss).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    from ocr_spark.operators.dispatch import MEDIA_ENGINES

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="spans parquet/Iceberg path")
    ap.add_argument("--output", required=True, help="output table root")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--salt-partitions", type=int, default=None)
    ap.add_argument("--rules", default=None, help="JSON list of [find, replace] pairs")
    ap.add_argument(
        "--media-engine",
        default="local",
        choices=MEDIA_ENGINES,
        help="J1 media-engine selection (reference requested_engine analogue)",
    )
    ap.add_argument(
        "--media-sidecar",
        default=None,
        help="binaryFile glob for the media payload sidecar (production S1 "
        "path: broadcast-joined on media_ref, decoded in-stage)",
    )
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="treat --input as a WATCHED directory: drain newly arrived "
        "parquet files through the unchanged extractor via Structured "
        "Streaming (availableNow), exactly-once per file, resume from "
        "--checkpoint; re-run the same command to pick up new arrivals",
    )
    ap.add_argument(
        "--checkpoint",
        default=None,
        help="streaming checkpoint dir (default: <output>/_checkpoint)",
    )
    args = ap.parse_args()

    from ocr_spark.checkpoint import run_resumable
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.session import get_spark
    from ocr_spark.sources.media import sidecar_df

    rules = json.loads(args.rules) if args.rules else []
    spark = get_spark("ocr_spark_extract")

    if args.streaming:
        from ocr_spark.streaming import streaming_extract

        # the sidecar is a STATIC frame; inside foreachBatch each micro-batch
        # is a plain batch DF, so the broadcast sidecar join works unchanged
        sidecar = (
            sidecar_df(spark, args.media_sidecar) if args.media_sidecar else None
        )
        q = streaming_extract(
            spark,
            args.input,
            args.output,
            args.checkpoint or f"{args.output.rstrip('/')}/_checkpoint",
            rules=rules,
            media_engine=args.media_engine,
            salt_partitions=args.salt_partitions,
            media_sidecar=sidecar,
        )
        q.awaitTermination()
        progress = q.lastProgress or {}
        print(
            json.dumps(
                {"mode": "streaming", "last_progress": progress}, default=str
            )
        )
        return

    sidecar = sidecar_df(spark, args.media_sidecar) if args.media_sidecar else None
    docs = spark.read.parquet(args.input)
    stats = run_resumable(
        spark,
        docs,
        args.output,
        n_buckets=args.buckets,
        extract=lambda df: extract_documents(
            df,
            rules=rules,
            salt_partitions=args.salt_partitions,
            media_engine=args.media_engine,
            media_sidecar=sidecar,
        ),
    )
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
