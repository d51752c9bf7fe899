"""spark-submit entry point.

    spark-submit --py-files qfilter.zip --files artifacts/* \
        -m qfilter.cli run --input <images parquet> --out <dir>

Subcommands:
  run / resume     batch pipeline with per-partition lineage (resume
                   picks up after the last committed partition)
  stream           Structured Streaming drain of a landing directory
  status           committed/pending partition counts
  build-artifacts  serialize the text bundle (langid.npz, lm.npz,
                   scrub.json) for --files distribution
  bench            the repo benchmark (one JSON line)
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="qfilter")
    sub = ap.add_subparsers(dest="cmd", required=True)

    run_p = sub.add_parser("run", help="run (or resume) the quality filter")
    run_p.add_argument("--input", help="images parquet path (omit to resume)")
    run_p.add_argument("--out", required=True)
    run_p.add_argument("--n-parts", type=int, default=256)
    run_p.add_argument("--wave-size", type=int, default=32)
    run_p.add_argument("--run-id", default="run0")
    run_p.add_argument("--master", default=None)

    st_p = sub.add_parser("status")
    st_p.add_argument("--out", required=True)
    st_p.add_argument("--n-parts", type=int, default=256)

    str_p = sub.add_parser("stream")
    str_p.add_argument("--input", required=True)
    str_p.add_argument("--out", required=True)
    str_p.add_argument("--checkpoint", required=True)
    str_p.add_argument("--master", default=None)
    str_p.add_argument(
        "--max-files-per-trigger", type=int, default=8,
        help="micro-batch width; use >= executor cores when draining a backlog",
    )

    art_p = sub.add_parser("build-artifacts")
    art_p.add_argument("--dir", default="artifacts/text_bundle")

    tr_p = sub.add_parser(
        "train", help="train a quality model from a labeled features table"
    )
    tr_p.add_argument("--input", required=True, help="features+keep parquet")
    tr_p.add_argument("--model-out", required=True, help=".npz artifact path")
    tr_p.add_argument(
        "--family", choices=["logreg", "gb", "svm"], default="logreg",
        help="logreg / gb stumps / linear svm (affine families share "
        "the .npz artifact shape)",
    )
    tr_p.add_argument("--master", default=None)

    enh_p = sub.add_parser(
        "enhance", help="image enhancement stats / transformed bytes"
    )
    enh_p.add_argument("--input", required=True, help="images parquet")
    enh_p.add_argument("--out", required=True)
    enh_p.add_argument(
        "--mode", choices=["stats", "bytes", "lines", "polish", "ocr-prep"],
        default="stats",
    )
    enh_p.add_argument("--master", default=None)

    sub.add_parser("bench")

    args = ap.parse_args(argv)

    if args.cmd == "build-artifacts":
        from .textops import build_default_bundle, save_bundle

        save_bundle(build_default_bundle(), args.dir)
        print(json.dumps({"artifacts": args.dir}))
        return 0

    if args.cmd == "bench":
        import bench

        bench.main()
        return 0

    from .session import get_spark

    if args.cmd == "run":
        from .pipeline import QualityFilterPipeline

        spark = get_spark(app="qfilter-run", master=args.master)
        pipe = QualityFilterPipeline(
            spark, args.out, n_parts=args.n_parts, wave_size=args.wave_size
        )
        images = spark.read.parquet(args.input) if args.input else None
        labels = pipe.run(images, run_id=args.run_id)
        print(json.dumps({"rows": labels.count(), **pipe.status()}))
        return 0

    if args.cmd == "status":
        from .pipeline import QualityFilterPipeline

        spark = get_spark(app="qfilter-status")
        pipe = QualityFilterPipeline(spark, args.out, n_parts=args.n_parts)
        print(json.dumps(pipe.status()))
        return 0

    if args.cmd == "stream":
        from .streaming import stream_quality_filter

        spark = get_spark(app="qfilter-stream", master=args.master)
        q = stream_quality_filter(
            spark, args.input, args.out, args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
        )
        q.awaitTermination()
        print(json.dumps({"stream": "drained", "out": args.out}))
        return 0

    if args.cmd == "train":
        spark = get_spark(app="qfilter-train", master=args.master)
        from .model import (
            fit_gb_stumps,
            fit_logreg,
            fit_svm_linear,
            save_gb,
            save_model,
            training_sample,
        )

        fit, save = {
            "logreg": (fit_logreg, save_model),
            "gb": (fit_gb_stumps, save_gb),
            "svm": (fit_svm_linear, save_model),
        }[args.family]
        save(args.model_out, fit(*training_sample(spark.read.parquet(args.input))))
        print(json.dumps({"model": args.model_out, "family": args.family}))
        return 0

    if args.cmd == "enhance":
        spark = get_spark(app="qfilter-enhance", master=args.master)
        from .enhance import with_enhance_stats, with_enhanced_bytes, with_line_features
        from .ocrprep import with_ocr_prep
        from .polish import with_polish_stats

        stage = {
            "stats": with_enhance_stats,
            "bytes": with_enhanced_bytes,
            "lines": with_line_features,
            "polish": with_polish_stats,
            "ocr-prep": with_ocr_prep,
        }[args.mode]
        out = stage(spark.read.parquet(args.input))
        if args.mode != "bytes":
            out = out.drop("bytes")
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out, "mode": args.mode}))
        return 0

    return 1


if __name__ == "__main__":
    sys.exit(main())
