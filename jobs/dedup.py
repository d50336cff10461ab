#!/usr/bin/env python3
"""spark-submit entry point for the dedup pipeline.

Usage (sandbox):
    python jobs/dedup.py --synth 2000 --ckpt /tmp/ckpt --run-id demo
    python jobs/dedup.py --pages /path/pages.parquet --ckpt /tmp/ckpt

Production: spark-submit --py-files dist/replicheck_spark.zip jobs/dedup.py \
    --pages <iceberg-or-parquet> --ckpt <table-root> --run-id <id>

Resumable: re-running with the same --ckpt/--run-id skips completed stages.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# allow `python jobs/dedup.py` from a checkout (spark-submit ships the
# package via --py-files instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv):
    p = argparse.ArgumentParser(description="replicheck_spark dedup job")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages", help="parquet path of the pages table")
    src.add_argument("--synth", type=int, help="synthesize N-doc planted corpus")
    p.add_argument("--ckpt", required=True, help="checkpoint root directory")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--min-similarity", type=float, default=0.8)
    p.add_argument("--min-size", type=int, default=50)
    p.add_argument("--shingle-k", type=int, default=5)
    p.add_argument("--no-substr", action="store_true")
    p.add_argument("--master", default=None, help="spark master (default local[N])")
    p.add_argument(
        "--output-format", choices=["text", "json", "markdown"], default="text"
    )
    p.add_argument(
        "--output", default=None, metavar="PATH",
        help="write the report to PATH (any format); falls back to console "
        "on write error (reference reporter.py:372-412 save semantics)",
    )
    p.add_argument(
        "--iceberg-catalog", default=None,
        help="write stage tables to this Iceberg catalog instead of parquet "
        "dirs under --ckpt (requires the Iceberg runtime jar + catalog conf "
        "at spark-submit time)",
    )
    p.add_argument("--seed", type=int, default=42)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from replicheck_spark.config import DedupConfig
    from replicheck_spark.operators.report import (
        block_dup_summary,
        cluster_summary,
        complexity_summary,
        edge_summary,
        render_json,
        render_markdown,
        render_text,
        severity_counts,
        write_report,
    )
    from replicheck_spark.plans.pipeline import run_dedup
    from replicheck_spark.session import get_spark

    cfg = DedupConfig(
        min_similarity=args.min_similarity,
        min_size=args.min_size,
        shingle_k=args.shingle_k,
        seed=args.seed,
    )
    spark = get_spark("replicheck_spark_dedup", master=args.master)

    # `is not None`: --synth 0 must be rejected as an explicit (empty) synth
    # request, not silently fall through to pages_path=None
    if args.synth is not None:
        if args.synth <= 0:
            raise SystemExit(f"--synth must be positive, got {args.synth}")
        from replicheck_spark.corpus import synth_pages_tempdir

        pages_path = synth_pages_tempdir(args.synth, seed=args.seed)
    else:
        pages_path = args.pages

    pages = spark.read.parquet(pages_path)
    t0 = time.monotonic()
    result = run_dedup(
        spark, pages, cfg, args.ckpt, run_id=args.run_id,
        with_substr=not args.no_substr,
        iceberg_catalog=args.iceberg_catalog,
    )
    summary = cluster_summary(result.clusters)
    edges = edge_summary(result.edges)
    # analyzer sections (reference reports every tool's findings): bounded
    # one-pass aggregations over the already-checkpointed docs table
    complexity = complexity_summary(result.docs)
    blocks = block_dup_summary(result.docs)
    wall = time.monotonic() - t0
    n_docs = result.docs.count()

    footer = f"Processed {n_docs} docs in {wall:.1f}s ({n_docs / wall:.0f} docs/sec)"
    if args.output_format == "json":
        out = json.loads(render_json(summary, edges, complexity, blocks))
        out["wall_sec"] = round(wall, 2)
        out["docs"] = n_docs
        out["docs_per_sec"] = round(n_docs / wall, 1)
        rendered = json.dumps(out, indent=2)
    elif args.output_format == "markdown":
        rendered = (
            render_markdown(summary, edges, severity_counts(result.docs),
                            complexity=complexity, blocks=blocks)
            + f"\n{footer}"
        )
    else:
        rendered = render_text(summary, edges, complexity=complexity,
                               blocks=blocks) + f"\n{footer}"
    if write_report(rendered, args.output):
        print(f"[report] written to {args.output}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
