#!/usr/bin/env python
"""Production entry point for the OCR extraction pipeline.

Run on a cluster:

    zip -r ocrs_spark.zip ocrs_spark/
    spark-submit --py-files ocrs_spark.zip scripts/run_pipeline.py \
        --documents s3a://bucket/documents/ \
        --media s3a://bucket/media/ \
        --checkpoint hdfs://nn/ocr_checkpoint/ \
        --detect-model /models/text-detection.rten.onnx \
        --rec-model /models/text-recognition.rten.onnx

or locally with the hermetic fake models:

    python scripts/run_pipeline.py --documents <parquet> --media <parquet> \
        --checkpoint /tmp/ckpt --fake-models

The run is resumable: each invocation prunes already-committed documents
(anti-join against the doc_ids of the committed data), OCRs and
reweaves the rest,
and commits a new snapshot atomically. Re-running after a kill resumes
from the last committed snapshot with no duplicate work.

The checkpoint root accepts any Hadoop filesystem URI (hdfs://, s3a://,
file://, or a bare local path): manifest I/O goes through the Hadoop
FileSystem API so every driver sees the same snapshots. Prefer HDFS or
ABFS when several writers may commit concurrently — the visibility flip
is a rename, which is atomic there but copy+delete on S3A.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--documents", required=True, help="documents table path (parquet)")
    p.add_argument("--media", required=True, help="media table path (parquet)")
    p.add_argument("--checkpoint", required=True, help="checkpoint root directory")
    p.add_argument("--detect-model", help="detection ONNX model path (on executors)")
    p.add_argument("--rec-model", help="recognition ONNX model path (on executors)")
    p.add_argument("--fake-models", action="store_true")
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--master", default=None, help="override master (default from env)")
    args = p.parse_args()

    from ocrs_spark.checkpoint import DocumentCheckpoint, run_checkpointed
    from ocrs_spark.session import get_spark

    if args.fake_models:
        engine_conf = {"kind": "fake"}
    elif args.detect_model and args.rec_model:
        engine_conf = {
            "kind": "onnx",
            "detection_path": args.detect_model,
            "recognition_path": args.rec_model,
        }
    else:
        raise SystemExit("--detect-model/--rec-model or --fake-models required")

    spark = get_spark(app_name="ocrs_pipeline", master=args.master)
    documents = spark.read.parquet(args.documents)
    media = spark.read.parquet(args.media)
    ckpt = DocumentCheckpoint(args.checkpoint)
    snapshot = run_checkpointed(
        documents, media, ckpt, engine_conf=engine_conf, partitions=args.partitions
    )
    if snapshot is None:
        print(json.dumps({"status": "noop", "reason": "all documents already committed"}))
    else:
        print(json.dumps({"status": "committed", **snapshot}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
