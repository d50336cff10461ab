#!/usr/bin/env python3
"""spark-submit entry point for the CURATION pass — the training-data
pipeline face of the engine, composing the driver-checked curation
operators into one resumable job:

  1. signals   — quality score + Gopher repetition flags on the RAW text
                 (textops.corpus_filter); docs failing either are dropped
                 (PII presence does NOT drop a doc — it gets scrubbed)
  2. scrub     — PII redaction (textops.pii_scrub): text := clean_text
  3. line      — C4-style corpus-frequency line removal
                 (blocks.line_corpus_dedup); docs whose text becomes empty
                 are dropped (counted, never silent)
  4. blocks    — optional CCNet-style corpus-frequency WINDOW removal
                 (blocks.boilerplate_strip, --block-min-docs); the
                 fixed-token-window complement of the line stage (catches
                 repeated paragraphs the newline granularity misses);
                 emptied docs drop
  5. decon     — optional GPT-3-style n-gram decontamination against
                 --bench (dedup_ops.decontaminate); contaminated docs drop
  6. dedup     — near-duplicate removal: LSH edges + exact star edges →
                 connected components → keep one canonical doc per cluster
                 (dedup_ops.cluster_labels(method="lsh") — the 100x path);
                 --scope lang makes pairing/clustering scope-local (band
                 buckets shrink by the language distribution; cross-lang
                 pairs are never even candidates)
  7. mix       — optional deterministic source-mixture sampling
                 (textops.mixture_sample, --mix "src=rate,...,default=R"):
                 the standard final mixture-weighting stage; membership is
                 a pure function of (doc_id, salt), so re-runs and resumes
                 are byte-identical

With every optional stage enabled the job covers the full published
curation recipe: heuristics -> PII -> C4 lines -> CCNet windows ->
decontamination -> MinHash near-dedup -> mixture weighting.

Each stage output is a checkpointed table under --ckpt/--run-id, run through
the same stage runner as jobs/dedup.py (plans/stages.py): re-run with the
same ids → finished stages are read back, their row counts taken from the
parquet footers. The report is per-stage lineage: rows in / rows out /
dropped — capped or dropped work is counted, never silent. The same counts,
per output file too, land in the metrics table at --ckpt/--run-id/_metrics
(FIXTURES.md §3), with no count job of their own.

Usage (sandbox):
    python jobs/curate.py --synth 2000 --ckpt /tmp/cur --run-id demo
    python jobs/curate.py --docs documents.parquet --ckpt /tmp/cur

Production: spark-submit --py-files dist/replicheck_spark.zip jobs/curate.py \
    --docs <iceberg-or-parquet> --ckpt <table-root> --run-id <id>
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def parse_args(argv):
    p = argparse.ArgumentParser(description="replicheck_spark curation job")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--docs", help="parquet path of a documents table "
                     "(doc_id, text, lang, source)")
    src.add_argument("--pages", help="parquet path of a pages table "
                     "(url, warc_ts, html, text, lang) — extracted to docs")
    src.add_argument("--synth", type=int,
                     help="synthesize N-doc planted pages corpus")
    p.add_argument("--ckpt", required=True, help="checkpoint root directory")
    p.add_argument("--run-id", default="curate0")
    p.add_argument("--min-quality", type=float, default=0.5)
    p.add_argument("--line-min-docs", type=int, default=2,
                   help="corpus-frequency threshold for line removal")
    p.add_argument("--no-line-dedup", action="store_true")
    p.add_argument("--block-min-docs", type=int, default=None,
                   help="enable CCNet-style window boilerplate removal: "
                   "strip fixed-token windows appearing in >= N distinct "
                   "docs (blocks.boilerplate_strip)")
    p.add_argument("--block-tokens", type=int, default=100,
                   help="window size (tokens) for --block-min-docs")
    p.add_argument("--mix", default=None, metavar="SPEC",
                   help="enable deterministic source-mixture sampling as "
                   "the final stage: 'srcA=1.0,srcB=0.3,default=0.5' "
                   "(textops.mixture_sample; unlisted sources keep "
                   "'default', which itself defaults to 1.0)")
    p.add_argument("--bench", default=None,
                   help="parquet path of a benchmark/eval documents table; "
                   "enables the decontamination stage")
    p.add_argument("--decon-n", type=int, default=13,
                   help="n-gram size for decontamination (GPT-3 default 13)")
    p.add_argument("--threshold", type=float, default=0.8,
                   help="near-dup Jaccard threshold for the dedup stage")
    p.add_argument("--shingle-k", type=int, default=5)
    p.add_argument("--no-dedup", action="store_true")
    p.add_argument("--scope", default=None, metavar="COLUMN",
                   help="scope the near-dedup stage to this column (e.g. "
                   "'lang'): docs only pair/cluster within equal NON-NULL "
                   "values — at web scale cross-language near-dup "
                   "comparison is wasted work, and scoping shrinks every "
                   "LSH band bucket (dedup_ops.cluster_labels scope_col)")
    p.add_argument("--master", default=None)
    p.add_argument("--output", default=None, metavar="PATH",
                   help="write the JSON lineage report to PATH")
    p.add_argument("--iceberg-catalog", default=None,
                   help="write stage tables to this Iceberg catalog instead "
                   "of parquet dirs under --ckpt")
    p.add_argument("--seed", type=int, default=42)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import functions as F

    from replicheck_spark.config import DedupConfig
    from replicheck_spark.operators import dedup_ops, textops
    from replicheck_spark.operators.blocks import line_corpus_dedup
    from replicheck_spark.plans.metrics import MetricsSink
    from replicheck_spark.plans.stages import StageRunner
    from replicheck_spark.session import get_spark
    from replicheck_spark.sources.io import TableIO, parquet_row_counts

    cfg = DedupConfig(
        min_similarity=args.threshold, shingle_k=args.shingle_k,
        seed=args.seed,
    )
    spark = get_spark("replicheck_spark_curate", master=args.master)
    io = TableIO(spark, args.ckpt, args.run_id,
                 iceberg_catalog=args.iceberg_catalog)
    runner = StageRunner(
        io, MetricsSink(io, f"{args.ckpt}/{args.run_id}/_metrics"))
    t0 = time.monotonic()

    # ---- input ----------------------------------------------------------
    if args.synth is not None:
        if args.synth <= 0:
            raise SystemExit(f"--synth must be positive, got {args.synth}")
        from replicheck_spark.corpus import synth_pages_tempdir

        args.pages = synth_pages_tempdir(args.synth, seed=args.seed)

    if args.pages is not None:
        from replicheck_spark.operators.extract import extract_docs

        raw = spark.read.parquet(args.pages)
        build_docs = lambda: extract_docs(raw).select(  # noqa: E731
            F.col("doc_id"),
            F.col("norm_text").alias("text"),
            F.col("lang"),
            F.col("host").alias("source"),
        )
    else:
        raw = spark.read.parquet(args.docs)
        build_docs = lambda: raw.select(  # noqa: E731
            "doc_id", "text",
            *(c for c in ("lang", "source") if c in raw.columns),
        )
    # the input's row count from its parquet footers: no Spark job
    n_raw = sum(parquet_row_counts(raw.inputFiles()))
    # the stages form one chain: each one's rows_in is its runner predecessor's
    docs0 = runner.run("docs", build_docs)

    # ---- 1. quality + repetition signals (raw text) ---------------------
    def build_filtered():
        verdicts = textops.corpus_filter(docs0, min_quality=args.min_quality)
        # PII does not drop a doc (it is scrubbed next); quality and
        # repetition do
        keep = verdicts.filter(
            (F.col("quality") >= args.min_quality) & ~F.col("repetitive")
        ).select("doc_id")
        return docs0.join(keep, "doc_id", "left_semi")

    filtered = runner.run("filtered", build_filtered)

    # ---- 2. PII scrub ----------------------------------------------------
    def build_scrubbed():
        clean = textops.pii_scrub(filtered).select("doc_id", "clean_text")
        return filtered.drop("text").join(clean, "doc_id").withColumnRenamed(
            "clean_text", "text"
        )

    scrubbed = runner.run("scrubbed", build_scrubbed)

    # ---- 3. line-level corpus-frequency dedup ---------------------------
    cur = scrubbed
    if not args.no_line_dedup:
        def build_lined():
            # keep_first: C4 semantics — repeated content is reduced to one
            # copy, never annihilated (the default strip-all would delete
            # BOTH copies of an exact-dup doc before the dedup stage could
            # pick a canonical)
            stripped = line_corpus_dedup(
                scrubbed, min_docs=args.line_min_docs, keep_first=True
            ).select("doc_id", F.col("clean_text"))
            out = scrubbed.drop("text").join(stripped, "doc_id") \
                .withColumnRenamed("clean_text", "text")
            # a doc whose every line was corpus-boilerplate is dropped
            # (counted via the stage's rows_in - rows_out)
            return out.filter(F.trim(F.col("text")) != "")

        cur = runner.run("line_dedup", build_lined)

    # ---- 4. optional CCNet window boilerplate removal --------------------
    if args.block_min_docs is not None:
        from replicheck_spark.operators.blocks import boilerplate_strip

        lined = cur
        def build_blocked():
            stripped = boilerplate_strip(
                lined, block_tokens=args.block_tokens,
                min_docs=args.block_min_docs,
            ).select("doc_id", "clean_text")
            out = lined.drop("text").join(stripped, "doc_id") \
                .withColumnRenamed("clean_text", "text")
            # a doc that was pure corpus-boilerplate is dropped (counted
            # via the stage's rows_in - rows_out)
            return out.filter(F.trim(F.col("text")) != "")

        cur = runner.run("block_strip", build_blocked)

    # ---- 5. optional decontamination -------------------------------------
    if args.bench is not None:
        bench = spark.read.parquet(args.bench).select("doc_id", "text")

        def build_decon():
            flags = dedup_ops.decontaminate(cur, bench, n=args.decon_n)
            dirty = flags.filter(F.col("contaminated")).select("doc_id")
            return cur.join(dirty, "doc_id", "left_anti")

        cur = runner.run("decontaminated", build_decon)

    # ---- 6. near-dedup (LSH edges + exact stars -> CC -> canonical) -----
    if not args.no_dedup:
        if args.scope is not None and args.scope not in cur.columns:
            raise SystemExit(
                f"--scope column {args.scope!r} not in the input "
                f"(have: {cur.columns})"
            )
        pre_dedup = cur
        def build_deduped():
            labels = dedup_ops.cluster_labels(
                pre_dedup, k=args.shingle_k, threshold=args.threshold,
                method="lsh", cfg=cfg, scope_col=args.scope,
            )
            dropped = labels.filter(
                F.col("doc_id") != F.col("cluster_id")
            ).select("doc_id")
            return pre_dedup.join(dropped, "doc_id", "left_anti")

        cur = runner.run("curated", build_deduped)

    # ---- 7. optional deterministic source-mixture sampling ---------------
    if args.mix is not None:
        rates: dict[str, float] = {}
        default_rate = 1.0
        for part in args.mix.split(","):
            k, _, v = part.partition("=")
            if not _:
                raise SystemExit(f"--mix entry {part!r} is not 'name=rate'")
            if k.strip() == "default":
                default_rate = float(v)
            else:
                rates[k.strip()] = float(v)
        if "source" not in cur.columns:
            raise SystemExit("--mix requires a 'source' column in the input")
        pre_mix = cur
        def build_mixed():
            keep = textops.mixture_sample(
                pre_mix.withColumn(
                    "lang",
                    F.col("lang") if "lang" in pre_mix.columns
                    else F.lit("und"),
                ),
                rates, default_rate=default_rate,
            ).select("doc_id")
            return pre_mix.join(keep, "doc_id", "left_semi")

        cur = runner.run("mixed", build_mixed)

    wall = time.monotonic() - t0
    report, n_in = {}, n_raw
    for name, n_out in runner.rows.items():
        report[name] = {"rows_in": n_in, "rows_out": n_out,
                        "dropped": n_in - n_out,
                        "resumed": name in runner.resumed}
        n_in = n_out
    n0, n_cur = runner.rows["docs"], n_in
    out = {
        "stages": report,
        "docs_in": n0,
        "docs_out": n_cur,
        "kept_frac": round(n_cur / n0, 4) if n0 else None,
        "wall_sec": round(wall, 2),
        "docs_per_sec": round(n0 / wall, 1) if wall > 0 else None,
        "run_id": args.run_id,
        "ckpt": args.ckpt,
    }
    rendered = json.dumps(out, indent=2)
    # shared save-with-console-fallback (operators/report.py — the same
    # helper jobs/dedup.py uses); the JSON always reaches stdout either way
    from replicheck_spark.operators.report import write_report

    if write_report(rendered, args.output):
        print(rendered)
        print(f"[report] written to {args.output}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
