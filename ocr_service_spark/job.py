"""spark-submit entry point for the extraction job.

Usage (cluster — spark-submit takes a script path, not -m; the thin
driver tools/submit_job.py is that script and this module is its body):
    python tools/make_pyfiles.py dist/ocr_service_spark.zip
    spark-submit --master ... --py-files dist/ocr_service_spark.zip \
        tools/submit_job.py --data-dir DIR --out-dir DIR ...
Locally:
    python -m ocr_service_spark.job --data-dir DIR --out-dir DIR [--master local[4]]

tests/test_spark_submit.py drives the real spark-submit binary through
this path from a neutral cwd and golden-checks the output.

Reads documents.parquet + media.parquet from --data-dir, runs the
checkpointed extraction pipeline, writes its four tables under --out-dir
(extracted/, recognitions/, _checkpoint/ and _metrics/; under --stream
one set per micro-batch in batches/<id>/), prints a one-line JSON
summary.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from .config import ExtractConfig
from .pipeline.checkpoint import DEFAULT_BUCKETS, run_resumable
from .pipeline.extract import load_inputs
from .session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="ocr_service_spark.job")
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--master", default=None, help="e.g. local[4]; default local[$SPARK_GRAFT_CPUS]")
    ap.add_argument("--n-buckets", type=int, default=DEFAULT_BUCKETS)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--confidence-low", type=float, default=None)
    ap.add_argument("--accepted-qr-formats", default=None, help="CSV, e.g. fiscal,url")
    ap.add_argument("--aggressive", action="store_true", help="aggressive binarization profile")
    ap.add_argument(
        "--alignment-mode",
        choices=("neural", "classic"),
        default="neural",
        help="default alignment mode (per-blob meta['mode'] overrides)",
    )
    ap.add_argument(
        "--warp-interp",
        choices=("nearest", "cubic"),
        default="nearest",
        help="warp resampling: nearest (fast default) or cubic (the "
        "reference's INTER_CUBIC)",
    )
    ap.add_argument(
        "--catalog",
        default=None,
        metavar="WAREHOUSE",
        help="run through an Iceberg hadoop catalog rooted here "
        "(requires the iceberg-spark runtime on the classpath)",
    )
    ap.add_argument(
        "--stream",
        action="store_true",
        help="run under Structured Streaming (readStream -> foreachBatch "
        "-> one checkpointed run per micro-batch under batches/) instead "
        "of the batch path",
    )
    ap.add_argument(
        "--structure",
        action="store_true",
        help="also write structured/ — R8 receipt structuring of every "
        "extracted media-text span (LLM client when LLM_API_URL/KEY are "
        "set, deterministic heuristic otherwise)",
    )
    args = ap.parse_args(argv)

    kwargs = {}
    if args.confidence_low is not None:
        kwargs["confidence_low"] = args.confidence_low
    if args.accepted_qr_formats:
        kwargs["accepted_qr_formats"] = tuple(args.accepted_qr_formats.split(","))
    if args.aggressive:
        kwargs["aggressive"] = True
    if args.warp_interp != "nearest":
        kwargs["warp_interp"] = args.warp_interp
    if args.alignment_mode != "neural":
        kwargs["alignment_mode"] = args.alignment_mode
    cfg = ExtractConfig(run_id=args.run_id or f"run-{int(time.time())}", **kwargs)

    extra_conf = None
    if args.catalog:
        from .pipeline.iceberg import iceberg_confs

        extra_conf = iceberg_confs(args.catalog)
    spark = get_spark(app_name="ocr-extract", master=args.master, extra_conf=extra_conf)
    if args.catalog:
        from .pipeline.iceberg import require_iceberg

        require_iceberg(spark)  # fail fast with a clear message
    t0 = time.time()
    if args.stream:
        from .pipeline.streaming import extract_stream_to_files

        stats = extract_stream_to_files(
            spark, args.data_dir, args.out_dir, cfg, n_buckets=args.n_buckets
        )
    else:
        docs, media = load_inputs(spark, args.data_dir)
        stats = run_resumable(
            spark,
            docs,
            media,
            args.out_dir,
            cfg,
            n_buckets=args.n_buckets,
            use_iceberg=bool(args.catalog),
        )
    n_structured = None
    if args.structure:
        # R8: structure the OCR text of every media_text span (the
        # visualizer's LLM step, deepseek_client.py:24-114, as a second
        # batch output)
        from pyspark.sql import functions as F

        from .kernels.structuring import structure_spans

        if args.stream:
            from .pipeline.streaming import read_stream_output

            extracted = read_stream_output(spark, args.out_dir)
        else:
            from .pipeline.checkpoint import read_output

            extracted = read_output(spark, args.out_dir)
        media_text = (
            extracted.select("doc_id", F.explode("spans").alias("s"))
            .filter(F.col("s.kind") == "media_text")
            .select(
                "doc_id",
                F.col("s.order").alias("span_order"),
                F.col("s.text").alias("text"),
            )
        )
        structured = structure_spans(media_text)
        structured.write.mode("overwrite").parquet(f"{args.out_dir}/structured")
        n_structured = spark.read.parquet(f"{args.out_dir}/structured").count()

    wall = time.time() - t0
    summary = {
        "run_id": cfg.run_id,
        "mode": "stream" if args.stream else "batch",
        "structured_spans": n_structured,
        # run_resumable's summary on both paths: processed docs/buckets,
        # ocr_chars (media chars over the written spans) and the measured
        # straggler balance (max/avg per-media-partition kernel wall)
        **stats,
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(stats["processed_docs"] / wall, 2) if wall > 0 else None,
        "ocr_chars_per_sec": round(stats["ocr_chars"] / wall, 1) if wall > 0 else None,
        "out_dir": args.out_dir,
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
